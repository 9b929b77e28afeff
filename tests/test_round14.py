"""Semantic invariants for the round-13-build operators (q472–q475)
— properties both engines could get wrong together, plus independent
reimplementations of the estimators (hashlib/pandas, no shared SQL
text) so a shared-oracle bug cannot hide."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest

from cli_spark.operators.round14 import (
    q472_horvitz_thompson_audit,
    q474_ams_f2_sketch,
    q475_neyman_allocation_audit,
)
from cli_spark.streaming.round14 import q473_streaming_histogram_quantiles


def _h60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def test_ht_census_strata_are_exact(spark, sf_dir):
    """Strata with <= k items degenerate to a census: tau = 0, the
    estimate is the exact total, err_ppm is exactly 0."""
    rows = q472_horvitz_thompson_audit(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 1 <= r["k_used"] <= 10
        assert r["k_used"] <= r["n_docs"]
        assert r["est_micro"] > 0
        if r["n_docs"] <= 10:
            assert r["k_used"] == r["n_docs"]
            assert r["est_micro"] == r["w_exact"] * 1_000_000
            assert r["err_ppm"] == 0


def test_ht_matches_independent_priority_sampler(spark, sf_dir):
    """Pure-Python Duffield–Lund–Thorup reimplementation (hashlib +
    pandas, no SQL) reproduces est_micro for every stratum."""
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "lang", "n_chars"])
    got = {r["lang"]: r for r in
           q472_horvitz_thompson_audit(spark, sf_dir).collect()}
    two60 = 1152921504606846976.0
    for lang, g in pdf.groupby("lang"):
        items = []
        for _, row in g.iterrows():
            w = max(int(row["n_chars"]), 1)
            u = (_h60(str(int(row["doc_id"]))) + 1.0) / two60
            items.append((w / u, int(row["doc_id"]), w))
        items.sort(key=lambda t: (-t[0], t[1]))
        tau = items[10][0] if len(items) > 10 else 0.0
        import math
        est = sum(int(math.floor(max(float(w), tau) * 1e6))
                  for _, _, w in items[:10])
        assert got[lang]["est_micro"] == est
        assert got[lang]["w_exact"] == int(
            g["n_chars"].clip(lower=1).sum())


def test_ams_f2_bounds_and_estimate_quality(spark, sf_dir):
    rows = q474_ams_f2_sketch(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        # Sigma f^2 >= Sigma f, and >= (Sigma f)^2 / n_keys (Cauchy-Schwarz)
        assert r["f2_exact"] >= r["n_rows"]
        assert r["f2_exact"] * r["n_keys"] >= r["n_rows"] ** 2
        assert r["f2_est"] >= 0
        # 16-estimator mean: std ~= F2 * sqrt(2/16); the deterministic
        # fixture sits well inside 3 sigma — pin the realized quality
        assert abs(r["err_ppm"]) < 1_500_000


def test_ams_sketch_merges_by_addition(sf_dir):
    """The mergeability claim itself, independently: X_i computed on
    two halves of the table and ADDED equals X_i of the whole — so
    per-shard sketches merge losslessly."""
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet",
                          columns=["event_id", "event_type", "user_id"])
    et = pdf["event_type"].iloc[0]
    g = pdf[pdf["event_type"] == et]

    def sketch(df) -> list[int]:
        xs = [0] * 16
        counts = df.groupby("user_id").size()
        for uid, f in counts.items():
            for i in range(16):
                s = 1 if _h60(f"{i}:{int(uid)}") % 2 == 0 else -1
                xs[i] += int(f) * s
        return xs

    half_a = g[g["event_id"] % 2 == 0]
    half_b = g[g["event_id"] % 2 == 1]
    merged = [a + b for a, b in zip(sketch(half_a), sketch(half_b))]
    assert merged == sketch(g)


def test_neyman_allocation_sums_and_dominance(spark, sf_dir):
    rows = q475_neyman_allocation_audit(spark, sf_dir).collect()
    assert len(rows) >= 2
    budget_micro = 100 * 1_000_000
    for r in rows:
        assert r["s2_micro"] >= 0
        assert 0 <= r["alloc_prop_micro"] <= budget_micro
        assert 0 <= r["alloc_neyman_micro"] <= budget_micro
        # Cauchy–Schwarz: Neyman never does worse (floors may nudge
        # the ppm figure a hair below zero, never materially)
        assert -10 <= r["reduction_ppm"] < 1_000_000
    # both allocations exhaust the budget up to per-stratum floor loss
    for col in ("alloc_prop_micro", "alloc_neyman_micro"):
        total = sum(r[col] for r in rows)
        assert budget_micro - len(rows) * 1_000_000 < total <= budget_micro
    # the reduction is a corpus-level scalar, identical on every row
    assert len({r["reduction_ppm"] for r in rows}) == 1


def test_neyman_variance_matches_pandas(spark, sf_dir):
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["lang", "n_chars"])
    got = {r["lang"]: r for r in
           q475_neyman_allocation_audit(spark, sf_dir).collect()}
    for lang, g in pdf.groupby("lang"):
        s2 = float(g["n_chars"].astype("float64").var(ddof=1))
        assert abs(got[lang]["s2_micro"] / 1e6 - s2) < 1e-3 * max(s2, 1.0)


def test_streaming_histogram_true_multibatch_and_bounds(spark, sf_dir,
                                                        stream_batches):
    """The stream really ran multi-batch, the merged estimate obeys
    the fixed-grid error contract vs the exact quantile, and the
    mid-stream estimate is a genuine prefix (n_mid < n_final)."""
    rows = q473_streaming_histogram_quantiles(spark, sf_dir).collect()
    assert len(rows) >= 3
    con = duckdb.connect()
    exact = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(f"""
            WITH base AS (
              SELECT event_type, event_id,
                     CAST(floor(value * 100.0) AS BIGINT) AS cents
              FROM read_parquet('{sf_dir}/events.parquet')
            ),
            g AS (SELECT event_type, MIN(cents) AS mn, MAX(cents) AS mx,
                         COUNT(*) AS n
                  FROM base GROUP BY event_type),
            r AS (SELECT event_type, cents,
                         row_number() OVER (PARTITION BY event_type
                             ORDER BY cents, event_id) AS rk
                  FROM base)
            SELECT r.event_type, q.q, r.cents, g.mn, g.mx
            FROM g CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) q
            JOIN r ON r.event_type = g.event_type
                  AND r.rk = (q.q * g.n + 99) // 100
        """).fetchall()
    }
    for r in rows:
        assert r["n_batches"] >= 2          # TRUE multi-batch
        assert 0 < r["n_mid"] < r["n_final"]
        ex, mn, mx = exact[(r["event_type"], r["q"])]
        bucket = (mx - mn + 1) / 64.0
        # fixed-grid contract: estimate within 1.5 buckets of exact
        assert abs(r["est_final_cents"] - ex) <= 1.5 * bucket + 1


def test_streaming_hll_multibatch_and_accuracy(spark, sf_dir,
                                             stream_batches):
    from cli_spark.streaming.round14 import q476_streaming_hll_union

    rows = q476_streaming_hll_union(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["n_batches"] >= 2              # TRUE multi-batch
        assert 0 <= r["zeros"] <= 64
        assert 0 < r["n_exact_mid"] <= r["n_exact"]
        assert r["hll_final"] > 0 and r["hll_mid"] > 0
        # 64-register contract ~13% sigma; pin at < 50% realized
        assert r["err_ppm"] < 500_000


def _q476_case(sf_dir: str, out, case: str):
    """A copy of ``sf_dir`` whose ``events`` table is mutated for one
    adversarial q476 case (the other tables symlinked), plus a DuckDB
    connection over it. The mid cut is the oracle's
    ``(nb DIV 2) * bsz`` rows of the ``(ts, event_id)`` order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cli_spark.tables import TABLE_NAMES
    from tests.conftest import register_views

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ev = tbl.to_pandas()
    order = ev.sort_values(["ts", "event_id"]).index
    bsz = -(-len(ev) // 20)
    cut = (-(-len(ev) // bsz) // 2) * bsz
    if case == "late_type":
        # a type whose every row is in the second half
        ev.loc[order[cut + 1::3], "event_type"] = "late_only"
    elif case == "ts_ties":
        # ten rows straddling the cut share one ts, and their event ids
        # are reversed, so the tie-break moves the first five across
        # the cut; fresh users make each row count in the mid audit
        win = order[cut - 5:cut + 5]
        ev.loc[win, "ts"] = ev.loc[order[cut], "ts"]
        ev.loc[win, "event_id"] = ev.loc[win, "event_id"].to_numpy()[::-1]
        ev.loc[win, "user_id"] = range(10**9, 10**9 + 10)
    elif case == "single_user":
        ev.loc[ev["event_type"] == ev["event_type"].iloc[0], "user_id"] = 7
    elif case == "null_user":
        ev["user_id"] = ev["user_id"].astype("Int64")
        ev.loc[order[::7], "user_id"] = pd.NA
    pq.write_table(pa.Table.from_pandas(ev, schema=tbl.schema,
                                        preserve_index=False),
                   out / "events.parquet")
    for t in TABLE_NAMES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    con = duckdb.connect()
    register_views(con, str(out))
    return str(out), con


@pytest.mark.parametrize("case", ["late_type", "ts_ties", "single_user"])
def test_q476_adversarial_inputs_match_oracle(spark, sf_dir, tmp_path, case):
    """q476 on mutated ``events`` against its DuckDB oracle, at the
    graded 20 batches: a type with no first-half row drops out, ts ties
    at the mid cut split by ``event_id`` as in the oracle's order, and
    a single-user type estimates one user."""
    from cli_spark.plans.registry import registry
    from tests.test_parity import _compare

    sf, con = _q476_case(sf_dir, tmp_path, case)
    spec = registry()["q476_streaming_hll_union"]
    sdf = spec.fn(spark, sf).toPandas()
    odf = con.execute(spec.oracle).df()
    assert not _compare(sdf, odf, spec.name)
    if case == "late_type":
        assert "late_only" not in set(sdf["event_type"])
    if case == "single_user":
        assert (sdf["n_exact"] == 1).sum() == 1


def test_q476_null_user_matches_null_propagating_oracle(spark, sf_dir, tmp_path):
    """A NULL ``user_id`` is a known oracle divergence: DuckDB's
    ``concat('0x', NULL)`` is ``'0x'``, so the oracle's hash CAST
    raises, while Spark's ``md5(NULL)`` is NULL and the row lands in a
    NULL bucket with a NULL register. That bucket counts in ``nbk``
    and adds nothing to the register sum, and the exact audit skips
    the NULL user. The oracle with its hash made NULL-propagating, as
    Spark's is, agrees with q476 exactly."""
    from cli_spark.operators.round11 import _H60_DUCK
    from cli_spark.plans.registry import registry
    from tests.test_parity import _compare

    sf, con = _q476_case(sf_dir, tmp_path, "null_user")
    spec = registry()["q476_streaming_hll_union"]
    with pytest.raises(duckdb.ConversionException, match="'0x'"):
        con.execute(spec.oracle).df()
    h = _H60_DUCK.format(key="user_id")
    assert h in spec.oracle
    odf = con.execute(spec.oracle.replace(
        h, f"CASE WHEN user_id IS NOT NULL THEN {h} END")).df()
    sdf = spec.fn(spark, sf).toPandas()
    assert not _compare(sdf, odf, spec.name)


def test_dp_release_domain_and_noise(spark, sf_dir):
    import pandas as pd
    from cli_spark.operators.round14 import q477_dp_laplace_release

    rows = q477_dp_laplace_release(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["lang", "source"])
    # full domain grid, INCLUDING empty cells — the DP release rule
    assert len(rows) == pdf["lang"].nunique() * pdf["source"].nunique()
    assert sum(r["n_true"] for r in rows) == len(pdf)
    for r in rows:
        assert r["n_true"] >= 0
        assert r["eps_micro"] == 500_000
        # Laplace(b=2): P(|noise| > 40) = e^-20 per cell — a hit here
        # means the inverse-CDF chain broke, not bad luck
        assert abs(r["n_noisy"] - r["n_true"]) <= 40
    # noise must actually exist somewhere (the release isn't identity)
    assert any(r["n_noisy"] != r["n_true"] for r in rows)


def test_kcenter_radius_monotone_and_matches_numpy(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd
    from cli_spark.operators.round14 import q478_kcenter_coreset

    rows = sorted(q478_kcenter_coreset(spark, sf_dir).collect(),
                  key=lambda r: r["step"])
    assert [r["step"] for r in rows] == list(range(8))
    ids = [r["center_id"] for r in rows]
    assert len(set(ids)) == 8                   # no center repeats
    d2s = [r["d2_sel"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))  # coverage shrinks

    # independent numpy reimplementation of the greedy traversal
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "embedding"]).sort_values(
                              "vec_id").reset_index(drop=True)
    q = np.stack([np.floor(np.asarray(v, dtype="float64") * 1048576.0)
                  for v in pdf["embedding"]]).astype("int64")
    vid = pdf["vec_id"].to_numpy()
    centers = [0]                               # min vec_id is row 0
    md = ((q - q[0]) ** 2).sum(axis=1)
    got = [(0, int(vid[0]), 0)]
    for t in range(1, 8):
        best = np.lexsort((vid, -md))[0]
        got.append((t, int(vid[best]), int(md[best])))
        md = np.minimum(md, ((q - q[best]) ** 2).sum(axis=1))
    assert [(r["step"], r["center_id"], r["d2_sel"]) for r in rows] == got


def test_misra_gries_deficit_bound_and_guarantee(spark, sf_dir,
                                                 stream_batches):
    """MG theorem as row properties: 0 <= exact - est <= n/(k+1), and
    every key with true frequency > n/(k+1) SURVIVES the merged
    summary (the heavy-hitter guarantee)."""
    from cli_spark.streaming.round14 import q479_streaming_misra_gries

    rows = q479_streaming_misra_gries(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 8
    got = {r["user_id"] for r in rows}
    for r in rows:
        assert r["n_batches"] >= 2
        assert r["est_count"] > 0
        assert 0 <= r["deficit"] <= r["bound"]
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    counts = pdf.groupby("user_id").size()
    bound = len(pdf) // 9
    for uid, c in counts.items():
        if c > bound:
            assert int(uid) in got, f"heavy hitter {uid} ({c} > {bound}) lost"


def test_threshold_curve_matches_bruteforce_jaccard(spark, sf_dir):
    """Independent pandas reimplementation: brute-force Jaccard over
    all rep pairs reproduces the band census (no prefix filter, no
    SQL text shared)."""
    from collections import Counter

    from cli_spark.operators.round14 import q480_threshold_sensitivity_curve

    rows = {r["band"]: r for r in
            q480_threshold_sensitivity_curve(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"])
    reps = pdf.loc[pdf.groupby(pdf["text"].map(
        lambda t: hashlib.md5(t.encode()).hexdigest()))["doc_id"]
        .idxmin()].reset_index(drop=True)

    def sh(t: str) -> frozenset:
        w = t.split(" ")
        return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))

    sets = [(int(r["doc_id"]), sh(r["text"])) for _, r in reps.iterrows()]
    sets = [(d, s) for d, s in sets if s]
    bands = Counter()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i][1] & sets[j][1])
            un = len(sets[i][1] | sets[j][1])
            if 2 * inter >= un:
                bands[(10 * inter) // un] += 1
    assert {b: r["n_pairs"] for b, r in rows.items()} == dict(bands)
    # cumulative pairs monotone downward in strictness
    cum = [rows[b]["cum_pairs_at_threshold"] for b in sorted(rows)]
    assert all(a >= b for a, b in zip(cum, cum[1:]))
