"""topk_revenue sums revenue exactly: at an exact .xx5 tie a double sum
rounded to 2 places depends on accumulation order, so Spark and DuckDB
(or two partitionings) could disagree in the last cent."""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nexus_processor_spark import queries as registry

# (orderkey, [(extendedprice, discount), ...]); revenue = sum p * (1 - d)
ORDERS = [
    (1, [("2.01", "0.50")]),                                     # 1.005
    (2, [("0.10", "0.00"), ("0.20", "0.00"), ("0.01", "0.50")]),  # 0.305
    (3, [("158357.14", "0.00"), ("0.01", "0.50")]),              # 158357.145
    (4, [("1000.10", "0.05"), ("999.90", "0.05"), ("0.03", "0.50")]),
    (5, [("33.33", "0.10"), ("66.67", "0.10"), ("0.07", "0.50")]),
    (6, [("12345.67", "0.07"), ("0.11", "0.50")]),               # no tie
]


def _exact(lines) -> float:
    total = sum(Decimal(p) * (1 - Decimal(d)) for p, d in lines)
    return float(total.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _write_corpus(root, lineitem_files: int) -> str:
    ts = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    pq.write_table(pa.table({
        "c_custkey": pa.array([1], pa.int64()),
        "c_mktsegment": ["BUILDING"],
    }), root / "customer.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array([k for k, _ in ORDERS], pa.int64()),
        "o_custkey": pa.array([1] * len(ORDERS), pa.int64()),
        "o_orderdate": pa.array([ts("1998-01-01")] * len(ORDERS),
                                pa.timestamp("us")),
    }), root / "orders.parquet")
    rows = [(k, float(p), float(d)) for k, lines in ORDERS for p, d in lines]
    li_dir = root / "lineitem.parquet"
    li_dir.mkdir()
    for i in range(lineitem_files):
        part = rows[i::lineitem_files]
        pq.write_table(pa.table({
            "l_orderkey": pa.array([r[0] for r in part], pa.int64()),
            "l_extendedprice": [r[1] for r in part],
            "l_discount": [r[2] for r in part],
            "l_shipdate": pa.array([ts("1998-06-01")] * len(part),
                                   pa.timestamp("us")),
        }), li_dir / f"part-{i}.parquet")
    return str(root)


def test_corpus_has_half_cent_ties():
    ties = [k for k, lines in ORDERS
            if (sum(Decimal(p) * (1 - Decimal(d)) for p, d in lines)
                * 1000) % 10 == 5]
    assert len(ties) >= 4


@pytest.mark.parametrize("lineitem_files", [1, 5])
def test_revenue_is_exact_half_up_at_any_partitioning(
        spark, tmp_path, lineitem_files):
    sf_dir = _write_corpus(tmp_path, lineitem_files)
    expected = {k: _exact(lines) for k, lines in ORDERS}
    # at least one task per lineitem file, so partial sums meet in a
    # shuffle
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "1024")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        assert li.rdd.getNumPartitions() >= lineitem_files
        got = registry.queries()["topk_revenue"](spark, sf_dir).collect()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert {r["l_orderkey"]: r["revenue"] for r in got} == expected

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        path = f"{sf_dir}/{t}.parquet" + ("/*.parquet" if t == "lineitem"
                                          else "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = con.execute(registry.oracle_sql()["topk_revenue"]).fetchall()
    assert {r[0]: r[2] for r in oracle} == expected
