"""Spark-first web-scale extraction engine."""

from engine.pyworker import patch_worker

# a Spark Python worker imports this package when it unpickles any engine
# body; that is where its per-task zip re-reads get gated
patch_worker()
