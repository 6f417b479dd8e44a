"""Pages -> graph benchmark (entry point: ``perfbench/run.py``)."""
