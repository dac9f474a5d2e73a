"""Pure-Python row-level kernels used inside vectorized Arrow UDFs.

Everything in this subpackage is Spark-free so it can be unit-tested directly
and shipped to executors cheaply. The hot path calls these per document inside
one ``mapInArrow`` pass (``operators/triples.py::emit_quads``), never
per-row from the driver.
"""
