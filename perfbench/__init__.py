"""The engine benchmark (see ``perfbench/run.py`` and ``BENCHMARK.json``)."""
