"""Closed-loop benchmark of the CDC engine (capture → poll → merge →
mark synced → report), driven through the public API of
``cdc_system_spark``. Entry point: ``python3 perfbench/run.py``.
"""
