# doc_shingles lives in graph.py; perfbench/worker.py imports it from here,
# and files under perfbench/ change only together with the benchmark.
from .graph import doc_shingles  # noqa: F401
