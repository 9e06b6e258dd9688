from graphblast_spark.sources.mtx import fixture_graph, read_mtx, write_mtx
from graphblast_spark.sources.corpus import generate_pages
from graphblast_spark.sources.distill import distill_edges
from graphblast_spark.sources.store import drop_graph, load_graph, save_graph
from graphblast_spark.sources.warc import read_warc, write_warc

__all__ = [
    "fixture_graph",
    "read_mtx",
    "write_mtx",
    "generate_pages",
    "distill_edges",
    "save_graph",
    "load_graph",
    "drop_graph",
    "read_warc",
    "write_warc",
]
