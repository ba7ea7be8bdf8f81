"""Payments-lake benchmark harness (see ``perfbench/run.py``)."""
