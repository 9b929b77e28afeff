"""Driver-mimicking correctness gate: every registered query with an
oracle is executed on Spark AND DuckDB and compared exactly —
row count, column names, and order-insensitive cell values (the same
comparison class the driver's CORRECTNESS_r{N}.json uses, but strict:
float cells must match bit-for-bit, which the engine's determinism
strategy guarantees by construction).

Queries without an oracle (rows-only in the driver) are executed and
smoke-checked here; their semantic goldens live in dedicated test
files (test_hgt.py, test_streaming.py).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from cli_spark.plans.registry import registry
from tests.conftest import register_views


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive
    exact comparison frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a total order across NaN/None/mixed types
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def _compare(sdf: pd.DataFrame, odf: pd.DataFrame, name: str) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = _canon(sdf), _canon(odf)
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if a is None and b is None:
                continue
            a_nan = isinstance(a, float) and math.isnan(a)
            b_nan = isinstance(b, float) and math.isnan(b)
            if (a is None and b_nan) or (a_nan and b is None) or (a_nan and b_nan):
                continue
            if isinstance(a, float) and isinstance(b, float):
                if a != b:
                    problems.append(
                        f"col {col} row {i}: spark={a!r} oracle={b!r} (diff={a-b:.3e})"
                    )
                    break
            elif a != b:
                problems.append(f"col {col} row {i}: spark={a!r} oracle={b!r}")
                break
            # string-level check on top of value equality: catches
            # int-vs-float dtype drift ('77342' vs '77342.0') and
            # signed zero ('-0.0' vs '0.0') that == treats as equal
            # but a hash of rendered values would not
            if str(a) != str(b):
                problems.append(
                    f"col {col} row {i}: rendered mismatch {str(a)!r} vs {str(b)!r}"
                )
                break
    return problems


_SPECS = registry()
_WITH_ORACLE = sorted(n for n, s in _SPECS.items() if s.oracle is not None)
_ROWS_ONLY = sorted(n for n, s in _SPECS.items() if s.oracle is None)

# TRUE-stream parity runs replay ~20 real micro-batches each (their
# oracles hard-code the batch count, so the fast-mode fixture cannot
# shrink them) — marked so the sharded runner can give them their own
# concurrent process; coverage is identical in any invocation.
_WITH_ORACLE_PARAMS = [
    pytest.param(n, marks=pytest.mark.stream_parity)
    if "true_stream" in _SPECS[n].tags else n
    for n in _WITH_ORACLE
]


@pytest.mark.parametrize("name", _WITH_ORACLE_PARAMS)
def test_oracle_parity(name, spark, duck, sf_dir):
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    odf = duck.execute(spec.oracle).df()
    problems = _compare(sdf, odf, name)
    assert not problems, f"{name}: " + "; ".join(problems[:5])


def test_no_rows_only_queries_remain():
    """Since round 5 EVERY registered query carries an exact DuckDB
    oracle (self-sourced HGT queries use deterministic-fixture VALUES
    literals; media stubs mirror their sha256 stub decode in SQL).
    A new oracle-less registration should be a deliberate, documented
    decision — this gate forces that conversation."""
    assert _ROWS_ONLY == [], _ROWS_ONLY


def test_q66_goldens(spark, sf_dir):
    """q66 has no DuckDB oracle (Spark-native functions) — pin exact
    values for two rows so the surface can't silently drift."""
    from cli_spark.plans.registry import registry as _reg

    df = _reg()["q66_spark_native_funcs"].fn(spark, sf_dir)
    rows = {r["n_nationkey"]: r.asDict() for r in df.collect()}
    assert rows[0] == {
        "n_nationkey": 0, "name_soundex": "N350", "mb": 2.0, "bankers": 0.0,
        "binary_repr": "0", "crc": 3678181428, "xxh": -3635279775981152085,
        "b64": "TkFUSU9OXzA=", "hex_key": "0", "shl": 0, "shr": 0,
    }
    assert rows[7] == {
        "n_nationkey": 7, "name_soundex": "N350", "mb": 86.0, "bankers": 8.0,
        "binary_repr": "111", "crc": 1163398551, "xxh": -1821898194479978266,
        "b64": "TkFUSU9OXzc=", "hex_key": "7", "shl": 28, "shr": 3,
    }


def test_q67_goldens(spark, sf_dir):
    """Map-ops pack is rows-only for the driver — pin one nation row."""
    from cli_spark.plans.registry import registry as _reg

    df = _reg()["q67_map_ops_pack"].fn(spark, sf_dir)
    rows = {r["n_nationkey"]: r.asDict() for r in df.collect()}
    assert rows[7] == {
        "n_nationkey": 7, "name_len": 8, "key_x2": 14, "reg_upkey": 2,
        "n_big": 2, "key_sum": 14, "keys_sorted": "key,len,reg",
        "values_total": 17,  # key 7 + reg 2 + len 8
    }


def test_session_gap_exactly_30min_half_open(spark, tmp_path):
    """Pin the session-window boundary convention on a synthetic
    fixture with a gap of EXACTLY 30:00.000000: Spark's
    F.session_window MERGES an event at exactly gap distance
    (sessions join when next_ts <= prev_ts + gap; probed empirically
    on Spark 4.1), so the q102/q124 oracles must compare gaps with
    STRICT > (not >=). This test runs BOTH sides of q102 on the
    fixture — it goes red if either the Spark query or the oracle
    SQL flips the convention."""
    import duckdb
    from pyspark.sql import functions as F

    sf = str(tmp_path)
    rows = [
        # user 1: 10:00:00 then exactly +30:00 → ONE merged session
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:30:00", 1, "view", 2.0, "{}"),
        # user 2: +29:59.999999 → ONE session (just under the gap)
        (3, "2024-01-01 10:00:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-01 10:29:59.999999", 2, "view", 2.0, "{}"),
        # user 3: +30:00.000001 → TWO sessions (strictly past the gap)
        (5, "2024-01-01 10:00:00", 3, "view", 1.0, "{}"),
        (6, "2024-01-01 10:30:00.000001", 3, "view", 2.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn(
        # TIMESTAMP_NTZ(MICROS) — the encoding the driver's parquet ships
        "ts", F.col("ts").cast("timestamp_ntz")
    ).coalesce(1).write.parquet(sf + "/events.parquet")

    spec = _SPECS["q102_session_windows"]
    sdf = spec.fn(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    odf = con.execute(spec.oracle).df()
    con.close()

    # semantic pins first, then full parity
    by_user = sdf.groupby("user_id").size().to_dict()
    assert by_user == {1: 1, 2: 1, 3: 2}, by_user
    assert not _compare(sdf, odf, "q102_session_gap_fixture")


# MinHash-LSH queries over a corpus where some documents have no
# shingles (fewer than 3 words). Their oracles unnest an empty list,
# which yields no row, so such a document has no signature and no
# band; Spark's array_min([]) is NULL, and a NULL band key must not
# become a bucket (q267/q290 lead() windows) or a batch row (q208).
# q76 reads the same bands through graph._candidate_edges.
_NO_SHINGLE_QUERIES = [
    "q73_minhash_lsh", "q208_minhash_incremental", "q212_lsh_recall_audit",
    "q218_containment_join", "q267_minhash_estimator_audit",
    "q290_lsh_parameter_sweep", "q333_lsh_pr_curve",
    "q385_dedup_cascade_audit", "q76_dedup_connected_components",
]


@pytest.fixture(scope="module")
def no_shingle_sf(sf_dir, tmp_path_factory):
    """A copy of ``sf_dir`` whose documents table has 4 texts set to
    "two words" — 2 catalog docs (doc_id % 10 < 8) and 2 batch docs
    (doc_id % 10 >= 8, q208's increment) — with the other tables
    symlinked, plus a DuckDB connection over it."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cli_spark.tables import TABLE_NAMES

    out = tmp_path_factory.mktemp("no_shingle_sf")
    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    docs = tbl.to_pandas()
    ids = docs["doc_id"].sort_values()
    picked = list(ids[ids % 10 < 8][:2]) + list(ids[ids % 10 >= 8][:2])
    docs.loc[docs["doc_id"].isin(picked), "text"] = "two words"
    pq.write_table(pa.Table.from_pandas(docs, schema=tbl.schema,
                                        preserve_index=False),
                   out / "documents.parquet")
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    con = duckdb.connect()
    register_views(con, str(out))
    yield str(out), con
    con.close()


@pytest.mark.parametrize("name", _NO_SHINGLE_QUERIES)
def test_no_shingle_docs_parity(name, spark, no_shingle_sf):
    sf, con = no_shingle_sf
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf).toPandas()
    odf = con.execute(spec.oracle).df()
    problems = _compare(sdf, odf, name)
    assert not problems, f"{name}: " + "; ".join(problems[:5])
