from . import bucketed, shards, sink
from .csv import read_csv
from .jsonl import read_jsonl
from .tables import load_table, register_views

__all__ = ["bucketed", "shards", "sink",
           "read_csv", "read_jsonl", "load_table", "register_views"]
