"""DataFrame-level operator stages (SURVEY.md §2).

Each module composes built-in pyspark.sql.functions wherever the semantics
allow and drops to Arrow-batched Python only for the kernels Spark lacks
(HTML text extraction, exact PIP over the R-tree index, language-ID,
vector and polygon kernels). Cell encode, tile assign and the geo miner
are native expressions. No per-row Python UDFs, no RDDs, no driver-side
collect loops (BASELINE.json:15; enforced by tests/test_lint.py).
"""
