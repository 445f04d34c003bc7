"""Oracle parity: every registered query against its DuckDB oracle over
the same parquet files, through the check of ``tools/check_oracle.py``.

Queries run at the driver's sf0.01, except the two whose oracles only
mean something on dirty data: they return 0 rows there, so they run on
a copy of sf0.001 whose documents carry case-flipped and exact
duplicates under fresh ids. Every compared result has at least one
Spark row, so an empty = empty match cannot pass."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from rivulus_spark import cache
from rivulus_spark.workload import DRIVER_SF_DIR, QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import build_parser, check_query, connect  # noqa: E402

DIRTY_DATA_QUERIES = ("dedup_normalized", "split_leakage_audit")
N_DUPLICATED = 40


@pytest.fixture(scope="module")
def dirty_sf_dir(tmp_path_factory) -> str:
    """sf0.001 with every table linked except documents, which adds an
    upper-cased copy and an exact copy of its first 40 docs, each under
    fresh doc_ids."""
    src = os.path.join(os.path.dirname(DRIVER_SF_DIR), "sf0.001")
    out = tmp_path_factory.mktemp("dirty_sf")
    for f in os.listdir(src):
        if f != "documents.parquet":
            os.symlink(os.path.join(src, f), out / f)
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    head = docs.slice(0, N_DUPLICATED)
    next_id = pc.max(docs["doc_id"]).as_py() + 1

    def copy(text, first_id):
        ids = pa.array(range(first_id, first_id + N_DUPLICATED), pa.int64())
        return (head.set_column(head.column_names.index("doc_id"),
                                "doc_id", ids)
                .set_column(head.column_names.index("text"), "text", text))

    dirty = pa.concat_tables([
        docs,
        copy(pc.utf8_upper(head["text"]), next_id),
        copy(head["text"], next_id + N_DUPLICATED)])
    pq.write_table(dirty, out / "documents.parquet")
    return str(out)


@pytest.fixture(scope="module")
def duck(dirty_sf_dir):
    """One DuckDB connection per compared sf_dir."""
    cons = {d: connect(d) for d in (DRIVER_SF_DIR, dirty_sf_dir)}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, dirty_sf_dir, name):
    sf_dir = dirty_sf_dir if name in DIRTY_DATA_QUERIES else DRIVER_SF_DIR
    try:
        n_spark, n_oracle, problems = check_query(
            spark, duck[sf_dir], name, sf_dir)
    finally:
        cache.unpersist_all()
    assert not problems, (
        f"{name} at {sf_dir} ({n_spark} spark rows, {n_oracle} oracle "
        "rows):\n" + "\n".join(problems))
    assert n_spark >= 1, f"{name}: 0 rows at {sf_dir}, nothing was compared"


def test_cli_names_after_exclude_stay_queries():
    args = build_parser().parse_args(
        ["--exclude", "agg_q1=demo", "select_project"])
    assert args.queries == ["select_project"]
    assert args.exclude == ["agg_q1=demo"]
    args = build_parser().parse_args(
        ["--exclude", "agg_q1", "--exclude", "agg_q5=slow"])
    assert args.queries == [] and args.exclude == ["agg_q1", "agg_q5=slow"]
