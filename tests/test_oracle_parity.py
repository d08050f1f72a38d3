"""Emulates the driver's correctness gate: run every ``queries()`` entry and
its ``oracle_sql()`` twin on the same parquet (sf0.001 for speed; the driver
uses sf0.01) and compare row count + column names + order-insensitive values.
"""

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _duck(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(rows, cols):
    """Sort columns by name, canonicalize values, return a sorted multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.10g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def oracle_items():
    import __spark_entry__ as E

    qs = E.queries()
    sqls = E.oracle_sql()
    assert set(sqls) <= set(qs), "oracle without a matching query"
    return qs, sqls


def test_all_oracles(spark, oracle_items):
    qs, sqls = oracle_items
    con = _duck(SF_DIR)
    failures = []
    for name, sql in sorted(sqls.items()):
        # an entry that cannot run is a named failure; the rest still run
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(f"{name}: columns {sorted(scols)} vs {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append(f"{name}: rowcount {len(srows)} vs {len(drows)}")
            continue
        sn = _normalize(srows, scols)
        dn = _normalize(drows, dcols)
        if sn != dn:
            diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            failures.append(f"{name}: value mismatch, e.g. {diff}")
    assert not failures, "\n".join(failures)


def test_rows_only_queries_run(spark, oracle_items):
    """Spark-only entries must at least execute and return a stable schema."""
    qs, sqls = oracle_items
    for name, fn in sorted(qs.items()):
        if name in sqls:
            continue
        df = fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "score"}
