"""Incremental/streaming layer.

The reference engine is deliberately batch-only (``README.md:16``): its
"streaming" surface is protocol-level — offset-interval incremental
reads, watermark metadata propagation, changelog ``op`` pass-through —
driven by the ODF coordinator as micro-batches. This package provides
that incremental-batch driver (``incremental.py``) plus the
continuously-maintained state folds over ledger directories
(``structured.py``).
"""
