"""Semantic invariants for the round-15-build operators (q492–q497)
— independent reimplementations (hashlib/pandas/math, no shared SQL
text) so a shared-oracle bug cannot hide."""

from __future__ import annotations

import hashlib
import math

import pandas as pd

import cli_spark.streaming.round16 as sr16
from cli_spark.operators.round16 import (
    q492_ddsketch_quantiles,
    q494_skew_salting_planner,
)

_MAXLONG = 9223372036854775807


def _h60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------- q492


def test_ddsketch_matches_independent_and_tightened_contract(spark, sf_dir):
    """Pure-Python gamma=sqrt(2) log-bucket histogram + rank selection
    reproduces every row (bucket index via bit_length of the square,
    estimate via math.isqrt of the squared-domain midpoint — no SQL
    text shared with either engine), and the TIGHTENED multiplicative
    contract holds as exact integer inequalities:
    2*est^2 <= 3*true^2 and 4*(est+1)^2 > 3*true^2 — i.e. est/true in
    (sqrt(3)/2, sqrt(3/2)], strictly inside q491's [0.75, 1.5]."""
    rows = q492_ddsketch_quantiles(spark, sf_dir).collect()
    assert len(rows) >= 5

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "event_id", "value"])
    got = {(r["event_type"], r["q"]): r for r in rows}
    n_rows_expected = 0
    for et, g in ev.groupby("event_type"):
        cents = sorted(max(int(math.floor(float(v) * 100.0)), 1)
                       for v in g["value"])
        buckets = {(c * c).bit_length() - 1 for c in cents}
        for q in (25, 50, 75, 90, 99):
            n_rows_expected += 1
            tgt = (q * len(cents) + 99) // 100
            exact = cents[tgt - 1]
            b = (exact * exact).bit_length() - 1
            est = 1 if b == 0 else math.isqrt(3 * (1 << (b - 1)))
            row = got[(et, q)]
            assert row["n"] == len(cents)
            assert row["n_buckets"] == len(buckets)
            assert row["bucket_sel"] == b
            assert row["est_cents"] == est
            assert row["exact_cents"] == exact
            assert row["rel_err_ppm"] == (abs(est - exact) * 1_000_000
                                          // max(exact, 1))
            assert row["contract_ok"] == 1
            # the tightened contract, integer-exact (and strictly
            # tighter than q491's: est/true <= sqrt(1.5) < 1.5)
            assert 2 * est * est <= 3 * exact * exact
            assert 4 * (est + 1) * (est + 1) > 3 * exact * exact
            # realized error within the bound's ppm ceiling (22.48%)
            assert row["rel_err_ppm"] <= 224745
    assert len(rows) == n_rows_expected


def test_ddsketch_bucket_count_is_bounded(spark, sf_dir):
    """The ENTIRE per-type sketch state (n_buckets) stays under the
    2*63 structural ceiling for gamma = 2^(1/2) — the O(log range)
    claim that makes the sketch mergeable metadata at any volume."""
    rows = q492_ddsketch_quantiles(spark, sf_dir).collect()
    for r in rows:
        assert 1 <= r["n_buckets"] <= 126


# ---------------------------------------------------------- q493


def test_streaming_conformal_monitor_matches_independent(
        spark, sf_dir, stream_batches):
    """Pure-Python split-conformal chain (md5 three-way split, integer
    train mean, rank-selected qhat with the +inf sentinel, Hoeffding
    slack) reproduces every row of the TRUE-stream run — the per-batch
    (n_test, n_covered) ADDITION merge lost nothing."""
    rows = sr16.q493_streaming_conformal_monitor(spark, sf_dir).collect()
    assert len(rows) >= 1

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "lang", "n_chars"])
    split = {int(d): _h60(f"cp:{int(d)}") % 3 for d in docs["doc_id"]}
    by_lang: dict[str, dict[int, list]] = {}
    for d, lang, y in zip(docs["doc_id"], docs["lang"], docs["n_chars"]):
        by_lang.setdefault(lang, {0: [], 1: [], 2: []})[
            split[int(d)]].append((int(d), int(y)))

    n_stream = sum(1 for s in split.values() if s == 2)
    bsz = -(-n_stream // stream_batches)
    nb = -(-n_stream // bsz)

    got = {r["lang"]: r for r in rows}
    for lang, parts in by_lang.items():
        train, calib, test = parts[0], parts[1], parts[2]
        if not train or not test:
            assert lang not in got
            continue
        pred = sum(y for _, y in train) // len(train)
        resid = sorted((abs(y - pred), d) for d, y in calib)
        n_calib = len(resid)
        r_rank = ((n_calib + 1) * 9 + 9) // 10
        qhat = resid[r_rank - 1][0] if r_rank <= n_calib else _MAXLONG
        if not calib:
            # no calibration rows at all -> lang absent (inner joins)
            assert lang not in got
            continue
        n_test = len(test)
        n_cov = sum(1 for _, y in test if abs(y - pred) <= qhat)
        cov_ppm = n_cov * 1_000_000 // max(n_test, 1)
        slack = int(math.floor(
            1_000_000.0 * math.sqrt(math.log(20.0) / (2.0 * n_test))))
        row = got[lang]
        assert row["n_train"] == len(train)
        assert row["n_calib"] == n_calib
        assert row["n_test"] == n_test
        assert row["pred_chars"] == pred
        assert row["qhat"] == qhat
        assert row["n_covered"] == n_cov
        assert row["coverage_ppm"] == cov_ppm
        assert row["nominal_ppm"] == 900_000
        assert row["slack_ppm"] == slack
        assert row["alarm"] == (1 if cov_ppm + slack < 900_000 else 0)
        assert row["n_batches"] == nb


def test_conformal_monitor_alarm_fires_on_drift(spark, sf_dir,
                                                stream_batches, tmp_path):
    """End-to-end drift drill: shifting every test-split document's
    n_chars far outside the calibrated band must trip the alarm for
    every language — the monitor's whole point. Built by rewriting the
    documents parquet with drifted y for split-2 rows only (the
    calibration side is untouched, so qhat is unchanged)."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    is_test = docs["doc_id"].map(
        lambda d: _h60(f"cp:{int(d)}") % 3 == 2)
    drifted = docs.copy()
    drifted.loc[is_test, "n_chars"] = (
        drifted.loc[is_test, "n_chars"] + 1_000_000)
    sf2 = tmp_path / "drift_sf"
    sf2.mkdir()
    drifted.to_parquet(sf2 / "documents.parquet", index=False)

    rows = sr16.q493_streaming_conformal_monitor(spark, str(sf2)).collect()
    assert len(rows) >= 1
    for r in rows:
        # a +1e6 shift exceeds any finite qhat from the true residual
        # scale; only the degenerate +inf-sentinel stratum still covers
        if r["qhat"] < 1_000_000:
            assert r["n_covered"] == 0
            assert r["alarm"] == 1


# ---------------------------------------------------------- q494


def _sim_salting(counts: dict, p: int, oversubs) -> dict:
    """Independent pure-Python placement simulation (hashlib only)."""
    total = sum(counts.values())
    target = -(-total // p)
    before = [0] * p
    for k, c in counts.items():
        before[_h60(f"sp:{k}") % p] += c
    out = {}
    for o in oversubs:
        load = [0] * p
        max_salt = n_subkeys = key_bytes = 0
        for k, c in counts.items():
            s0 = -(-c // target)
            s = 1 if s0 == 1 else min(s0 * o, c)
            max_salt = max(max_salt, s)
            n_subkeys += s
            if s == 1:
                load[_h60(f"sp:{k}") % p] += c
                key_bytes += 48 + len(k)
                continue
            for i in range(s):
                load[_h60(f"sp:{k}#{i}") % p] += c // s + (
                    1 if i < c % s else 0)
                key_bytes += 48 + len(f"{k}#{i}")
        out[o] = {
            "total": total, "target": target,
            "n_heavy_keys": sum(1 for c in counts.values()
                                if -(-c // target) > 1),
            "max_salt": max_salt, "n_subkeys": n_subkeys,
            "key_bytes_model": key_bytes,
            "skew_before_ppm": max(before) * 1_000_000 * p // total,
            "max_rows_after": max(load),
            "skew_after_ppm": max(load) * 1_000_000 * p // total,
        }
    return out


def test_salting_planner_matches_independent_sim(spark, sf_dir):
    """The planner's whole sweep equals a pure-Python placement
    simulation over the same md5 lanes, and salting never increases
    the modeled straggler as oversubscription grows (the curve is the
    decision artifact — it must be monotone non-increasing)."""
    rows = q494_skew_salting_planner(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type"])
    counts = ev["event_type"].value_counts().to_dict()
    sim = _sim_salting(counts, 32, [r["oversub"] for r in rows])
    assert len(rows) == 4
    prev = None
    for r in sorted(rows, key=lambda r: r["oversub"]):
        want = sim[r["oversub"]]
        for col, val in want.items():
            assert r[col] == val, (r["oversub"], col, r[col], val)
        if prev is not None:
            assert r["max_rows_after"] <= prev
        prev = r["max_rows_after"]


def test_salting_planner_noop_on_unskewed_corpus(spark, tmp_path):
    """On a corpus where no key exceeds the per-partition budget the
    plan must be an honest no-op at EVERY swept oversubscription:
    salt stays 1, nothing is re-placed, after == before."""
    # 64 distinct keys x 10 rows each: target = ceil(640/32) = 20 >= 10
    ev = pd.DataFrame({"event_type": [f"t{k:02d}" for k in range(64)
                                      for _ in range(10)]})
    sf2 = tmp_path / "flat_sf"
    sf2.mkdir()
    ev.to_parquet(sf2 / "events.parquet", index=False)
    rows = q494_skew_salting_planner(spark, str(sf2)).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["n_heavy_keys"] == 0
        assert r["max_salt"] == 1
        assert r["n_subkeys"] == 64
        assert r["skew_after_ppm"] == r["skew_before_ppm"]
        assert r["max_rows_after"] * 1_000_000 * 32 // r["total"] \
            == r["skew_before_ppm"]


# ---------------------------------------------------------- q495

from cli_spark.operators.round16 import (  # noqa: E402
    q495_calibration_reliability_audit,
    q497_benford_digit_audit,
)


def _calibration_independent(ev: pd.DataFrame) -> dict:
    """Pure-Python reimplementation of the whole q495 chain (hashlib
    split/cells, integer ppm arithmetic, minimax isotonic)."""
    rows = []
    for eid, et, uid, v in zip(ev["event_id"], ev["event_type"],
                               ev["user_id"], ev["value"]):
        cell = f"{et}:{int(uid) % 64}"
        cents = max(int(math.floor(float(v) * 100.0)), 1)
        y = 1 if cents > 3500 else 0
        split = _h60(f"ca:{int(eid)}") % 2
        rows.append((cell, y, split))
    fit = {}
    for cell, y, split in rows:
        if split == 0:
            n, h = fit.get(cell, (0, 0))
            fit[cell] = (n + 1, h + y)
    pred = {c: h * 1_000_000 // n for c, (n, h) in fit.items()}
    ev_rows = [(pred[c], y) for c, y, s in rows if s == 1 and c in pred]
    n_eval = len(ev_rows)
    brier = sum((p // 1000 - 1000 * y) ** 2 for p, y in ev_rows) // n_eval
    bins: dict[int, list] = {}
    for p, y in ev_rows:
        b = min(p // 100_000, 9)
        nb, sp, h = bins.get(b, (0, 0, 0))
        bins[b] = (nb + 1, sp + p, h + y)
    ece = sum(abs(sp - 1_000_000 * h)
              for nb, sp, h in bins.values()) // n_eval
    order = sorted(bins)
    iso = {}
    for b in order:
        best = None
        for i in [x for x in order if x <= b]:
            lo = None
            for j in [x for x in order if x >= b]:
                seg = [bins[k] for k in order if i <= k <= j]
                r = (sum(h for _, _, h in seg) * 1_000_000
                     // sum(nb for nb, _, _ in seg))
                lo = r if lo is None else min(lo, r)
            best = lo if best is None else max(best, lo)
        iso[b] = best
    return {"n_eval": n_eval, "brier": brier, "ece": ece,
            "bins": bins, "iso": iso}


def test_calibration_audit_matches_independent(spark, sf_dir):
    """Pure-Python chain (md5 split, per-cell integer rates, ppm bins,
    exact ECE, per-mille Brier, minimax isotonic) reproduces every
    emitted row and summary column."""
    rows = q495_calibration_reliability_audit(spark, sf_dir).collect()
    assert len(rows) >= 2
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "event_type", "user_id", "value"])
    want = _calibration_independent(ev)
    assert len(rows) == len(want["bins"])
    for r in rows:
        nb, sp, h = want["bins"][r["bin"]]
        assert r["n_bin"] == nb
        assert r["conf_ppm"] == sp // nb
        assert r["acc_ppm"] == h * 1_000_000 // nb
        assert r["gap_ppm"] == sp // nb - h * 1_000_000 // nb
        assert r["iso_ppm"] == want["iso"][r["bin"]]
        assert r["n_eval"] == want["n_eval"]
        assert r["n_bins_occ"] == len(want["bins"])
        assert r["ece_ppm"] == want["ece"]
        assert r["brier_ppm"] == want["brier"]


def test_calibration_isotonic_is_monotone_and_bounded(spark, sf_dir):
    """The recalibrated values must be nondecreasing in bin index and
    valid probabilities — the defining isotonic property, preserved
    under ppm flooring."""
    rows = sorted(q495_calibration_reliability_audit(spark, sf_dir)
                  .collect(), key=lambda r: r["bin"])
    prev = -1
    for r in rows:
        assert 0 <= r["iso_ppm"] <= 1_000_000
        assert r["iso_ppm"] >= prev
        prev = r["iso_ppm"]
        assert 0 <= r["conf_ppm"] <= 1_000_000
        assert 0 <= r["acc_ppm"] <= 1_000_000
    # the fine-cell empirical model genuinely carries calibration
    # error for the audit to report
    assert rows[0]["ece_ppm"] > 0


# ---------------------------------------------------------- q496


def test_streaming_ddsketch_matches_independent(spark, sf_dir,
                                                stream_batches):
    """The TRUE-stream run (per-batch bucket-count partials, ADDITION
    merge) equals the pure-Python corpus-wise gamma=sqrt(2) sketch —
    the stream merge lost nothing — and the tightened contract holds
    on every row."""
    rows = sr16.q496_streaming_ddsketch(spark, sf_dir).collect()
    assert len(rows) >= 3

    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "event_id", "value"])
    n = len(ev)
    bsz = -(-n // stream_batches)
    nb = -(-n // bsz)
    got = {(r["event_type"], r["q"]): r for r in rows}
    n_expected = 0
    for et, g in ev.groupby("event_type"):
        cents = sorted(max(int(math.floor(float(v) * 100.0)), 1)
                       for v in g["value"])
        buckets = {(c * c).bit_length() - 1 for c in cents}
        for q in (50, 90, 99):
            n_expected += 1
            tgt = (q * len(cents) + 99) // 100
            exact = cents[tgt - 1]
            b = (exact * exact).bit_length() - 1
            est = 1 if b == 0 else math.isqrt(3 * (1 << (b - 1)))
            row = got[(et, q)]
            assert row["n"] == len(cents)
            assert row["n_buckets"] == len(buckets)
            assert row["bucket_sel"] == b
            assert row["est_cents"] == est
            assert row["exact_cents"] == exact
            assert row["contract_ok"] == 1
            assert row["n_batches"] == nb
            assert 2 * est * est <= 3 * exact * exact
            assert 4 * (est + 1) * (est + 1) > 3 * exact * exact
    assert len(rows) == n_expected


# ---------------------------------------------------------- q497

_BF = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
       6: 66947, 7: 57992, 8: 51153, 9: 45757}


def test_benford_matches_independent(spark, sf_dir):
    """Pure-Python first-digit census with the same ppm constants
    reproduces every row, including zero-count digits' full expected
    mass in the divergence."""
    rows = q497_benford_digit_audit(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_type", "value"])
    got = {(r["event_type"], r["digit"]): r for r in rows}
    n_types = ev["event_type"].nunique()
    assert len(rows) == 9 * n_types
    assert sum(_BF.values()) == 1_000_000
    for et, g in ev.groupby("event_type"):
        cents = [max(int(math.floor(float(v) * 100.0)), 1)
                 for v in g["value"]]
        n = len(cents)
        obs = {d: 0 for d in range(1, 10)}
        for c in cents:
            obs[int(str(c)[0])] += 1
        devs = {d: obs[d] * 1_000_000 // n - _BF[d] for d in _BF}
        chi2 = sum(dv * dv // _BF[d] for d, dv in devs.items())
        maxdev = max(abs(dv) for dv in devs.values())
        for d in range(1, 10):
            r = got[(et, d)]
            assert r["n_obs"] == obs[d]
            assert r["freq_ppm"] == obs[d] * 1_000_000 // n
            assert r["benford_ppm"] == _BF[d]
            assert r["dev_ppm"] == devs[d]
            assert r["n"] == n
            assert r["chi2_ppm"] == chi2
            assert r["maxdev_ppm"] == maxdev


def test_benford_flags_degenerate_first_digits(spark, tmp_path):
    """A feed where every value starts with digit 1 (the classic
    truncation/unit-mangling signature) must show freq(1) = 1e6,
    dev(1) = 698970 and the full expected mass charged on the eight
    empty digits — the audit's whole point."""
    ev = pd.DataFrame({
        "event_id": range(100),
        "ts": pd.to_datetime("2024-01-01"),
        "user_id": [i % 7 for i in range(100)],
        "event_type": ["degen"] * 100,
        "value": [1.23] * 100,   # cents = 123 -> first digit 1
        "props": ["{}"] * 100,
    })
    sf2 = tmp_path / "benford_sf"
    sf2.mkdir()
    ev.to_parquet(sf2 / "events.parquet", index=False)
    rows = q497_benford_digit_audit(spark, str(sf2)).collect()
    assert len(rows) == 9
    by_d = {r["digit"]: r for r in rows}
    assert by_d[1]["freq_ppm"] == 1_000_000
    assert by_d[1]["dev_ppm"] == 1_000_000 - 301030
    for d in range(2, 10):
        assert by_d[d]["n_obs"] == 0
        assert by_d[d]["dev_ppm"] == -_BF[d]
    want_chi2 = sum(
        (1_000_000 - 301030) ** 2 // 301030 if d == 1
        else _BF[d] * _BF[d] // _BF[d]
        for d in range(1, 10))
    assert by_d[1]["chi2_ppm"] == want_chi2
    assert by_d[1]["maxdev_ppm"] == 1_000_000 - 301030


# ---------------------------------------------------------- q498

from cli_spark.operators.round16 import (  # noqa: E402
    q498_partition_coalesce_planner,
    q499_psi_drift_audit,
)


def _sim_coalesce(uids, p0: int, desireds) -> dict:
    """Independent pure-Python prefix-sum packing simulation."""
    census: dict[int, int] = {}
    for u in uids:
        census[_h60(f"sp:{int(u)}") % p0] = census.get(
            _h60(f"sp:{int(u)}") % p0, 0) + 1
    total = sum(census.values())
    parts = sorted(census.items())
    out = {}
    for p in desireds:
        target = -(-total // p)
        bins: dict[int, int] = {}
        cum = 0
        n_small = 0
        for pid, n in parts:
            b = cum // target
            bins[b] = bins.get(b, 0) + n
            cum += n
            if n * 2 < target:
                n_small += 1
        out[p] = {
            "target": target, "total": total,
            "n_occupied": len(parts),
            "max_part_rows": max(census.values()),
            "n_small_before": n_small,
            "n_bins_after": len(bins),
            "max_bin_rows": max(bins.values()),
            "min_bin_rows": min(bins.values()),
            "skew_after_ppm": max(bins.values()) * 1_000_000
            * len(bins) // total,
            "overshoot_rows": max(bins.values()) - target,
        }
    return out


def test_coalesce_planner_matches_independent_sim(spark, sf_dir):
    """The planner equals a pure-Python prefix-sum packing over the
    same md5 placement, and every bin's overshoot is bounded by one
    input partition (the closed form's guarantee)."""
    rows = q498_partition_coalesce_planner(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    sim = _sim_coalesce(ev["user_id"], 200, [r["p_desired"] for r in rows])
    assert len(rows) == 4
    for r in rows:
        want = sim[r["p_desired"]]
        for col, val in want.items():
            assert r[col] == val, (r["p_desired"], col, r[col], val)
        # overshoot bound: a bin exceeds target only by rows of the
        # single partition that crossed the boundary
        assert r["overshoot_rows"] < r["max_part_rows"]


def test_coalesce_planner_bins_never_exceed_desired(spark, sf_dir):
    """Prefix-sum packing can produce FEWER bins than p_desired (when
    partitions are atomic and few) but never more."""
    rows = q498_partition_coalesce_planner(spark, sf_dir).collect()
    for r in rows:
        assert r["n_bins_after"] <= r["p_desired"]
        assert r["n_bins_after"] >= 1


# ---------------------------------------------------------- q499


def _psi_independent(ev: pd.DataFrame) -> dict:
    out = {}
    for et, g in ev.groupby("event_type"):
        cells: dict[int, list] = {}
        for eid, v in zip(g["event_id"], g["value"]):
            cents = max(int(math.floor(float(v) * 100.0)), 1)
            b = cents.bit_length() - 1
            s = _h60(f"ps:{int(eid)}") % 2
            cells.setdefault(b, [0, 0])[s] += 1
        nb = len(cells)
        rt = sum(v[0] for v in cells.values())
        ct = sum(v[1] for v in cells.values())
        rows = {}
        psi = 0
        for b, (rn, cn) in cells.items():
            rp = (rn + 1) * 1_000_000 // (rt + nb)
            cp = (cn + 1) * 1_000_000 // (ct + nb)
            term = int(math.floor((float(rp) - float(cp))
                                  * math.log(float(rp) / float(cp))))
            psi += term
            rows[b] = (rn, cn, rp, cp, term)
        out[et] = {"rows": rows, "psi": psi, "nb": nb}
    return out


def test_psi_audit_matches_independent(spark, sf_dir):
    """Pure-Python PSI chain (md5 halves, bit-length buckets, add-one
    ppm smoothing, floored IEEE terms) reproduces every row; terms are
    nonnegative by construction and the homogeneous-corpus PSI stays
    under the 0.2 alarm."""
    rows = q499_psi_drift_audit(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["event_id", "event_type", "value"])
    want = _psi_independent(ev)
    got = {(r["event_type"], r["bucket"]): r for r in rows}
    n_expected = sum(w["nb"] for w in want.values())
    assert len(rows) == n_expected
    for et, w in want.items():
        for b, (rn, cn, rp, cp, term) in w["rows"].items():
            r = got[(et, b)]
            assert r["ref_n"] == rn and r["cur_n"] == cn
            assert r["ref_ppm"] == rp and r["cur_ppm"] == cp
            assert r["term_ppm"] == term
            assert r["term_ppm"] >= 0
            assert r["n_buckets"] == w["nb"]
            assert r["psi_ppm"] == w["psi"]
            assert r["alarm"] == (1 if w["psi"] > 200_000 else 0)


def test_psi_alarm_fires_on_drift(spark, tmp_path):
    """Drift drill: scaling the current half's values by 16x moves
    every row four log2 buckets — PSI must blow through 0.2 and the
    alarm must fire (the monitor's whole point)."""
    base = pd.DataFrame({
        "event_id": range(2000),
        "ts": pd.to_datetime("2024-01-01"),
        "user_id": [i % 97 for i in range(2000)],
        "event_type": ["drift"] * 2000,
        "value": [10.0 + (i % 50) for i in range(2000)],
        "props": ["{}"] * 2000,
    })
    cur = base["event_id"].map(lambda e: _h60(f"ps:{int(e)}") % 2 == 1)
    base.loc[cur, "value"] = base.loc[cur, "value"] * 16.0
    sf2 = tmp_path / "psi_sf"
    sf2.mkdir()
    base.to_parquet(sf2 / "events.parquet", index=False)
    rows = q499_psi_drift_audit(spark, str(sf2)).collect()
    assert len(rows) >= 2
    assert all(r["alarm"] == 1 for r in rows)
    assert rows[0]["psi_ppm"] > 200_000


# ---------------------------------------------------------- q500


def test_streaming_psi_matches_batch_form(spark, sf_dir, stream_batches):
    """The TRUE-stream monitor must equal q499's batch form on every
    shared column (the ADDITION merge of per-batch current-window
    histograms lost nothing) and carry the right n_batches."""
    srows = sr16.q500_streaming_psi_monitor(spark, sf_dir).collect()
    brows = q499_psi_drift_audit(spark, sf_dir).collect()
    assert len(srows) == len(brows) >= 2

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id"])
    n_cur = sum(1 for e in ev["event_id"]
                if _h60(f"ps:{int(e)}") % 2 == 1)
    bsz = -(-n_cur // stream_batches)
    nb = -(-n_cur // bsz)

    got = {(r["event_type"], r["bucket"]): r for r in srows}
    for b in brows:
        s = got[(b["event_type"], b["bucket"])]
        for col in ("ref_n", "cur_n", "ref_ppm", "cur_ppm", "term_ppm",
                    "n_buckets", "psi_ppm", "alarm"):
            assert s[col] == b[col], (b["event_type"], b["bucket"], col)
        assert s["n_batches"] == nb


# ---------------------------------------------------------- q501

from cli_spark.operators.round16 import (  # noqa: E402
    q501_mestimate_encoding_audit,
)


def test_mestimate_audit_matches_independent(spark, sf_dir):
    """Pure-Python m-estimate chain (md5 halves, integer ppm encoding,
    per-mille Brier) reproduces every row, and the m = 0 row equals
    the raw per-category rate by construction."""
    rows = q501_mestimate_encoding_audit(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "lang"])
    fit, ev = [], []
    for d, s, lang in zip(docs["doc_id"], docs["source"], docs["lang"]):
        y = 1 if lang == "en" else 0
        (fit if _h60(f"me:{int(d)}") % 2 == 0 else ev).append((s, y))
    prior = sum(y for _, y in fit) * 1_000_000 // len(fit)
    cats: dict[str, list] = {}
    for s, y in fit:
        n, h = cats.get(s, (0, 0))
        cats[s] = (n + 1, h + y)
    want = {}
    for m in (0, 1, 10, 100):
        enc = {s: (h * 1_000_000 + m * prior) // (n + m)
               for s, (n, h) in cats.items()}
        scored = [(enc[s], y) for s, y in ev if s in enc]
        brier = sum((e // 1000 - 1000 * y) ** 2
                    for e, y in scored) // len(scored)
        want[m] = (len(scored), brier)
    best = min(b for _, b in want.values())
    assert len(rows) == 4
    for r in rows:
        n_eval, brier = want[r["m"]]
        assert r["prior_ppm"] == prior
        assert r["n_fit"] == len(fit)
        assert r["n_eval"] == n_eval
        assert r["n_cats"] == len(cats)
        assert r["brier_ppm"] == brier
        assert r["is_best"] == (1 if brier == best else 0)
    # exactly the minimal-Brier rows carry the flag
    assert sum(r["is_best"] for r in rows) >= 1


def test_mestimate_shrinkage_interpolates(spark, sf_dir):
    """Structural sanity: m = 0 is the raw rate (enc can sit anywhere),
    and as m grows every category's encoding moves toward the prior —
    asserted via the independent chain, not the engine."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "source", "lang"])
    fit = [(s, 1 if lang == "en" else 0)
           for d, s, lang in zip(docs["doc_id"], docs["source"],
                                 docs["lang"])
           if _h60(f"me:{int(d)}") % 2 == 0]
    prior = sum(y for _, y in fit) * 1_000_000 // len(fit)
    cats: dict[str, list] = {}
    for s, y in fit:
        n, h = cats.get(s, (0, 0))
        cats[s] = (n + 1, h + y)
    for s, (n, h) in cats.items():
        prev_dist = None
        for m in (0, 1, 10, 100):
            enc = (h * 1_000_000 + m * prior) // (n + m)
            dist = abs(enc - prior)
            if prev_dist is not None:
                assert dist <= prev_dist + 1  # +1 for floor jitter
            prev_dist = dist


# ---------------------------------------------------------- q385


def test_cascade_counts_null_text_as_one_exact_key(spark, sf_dir, tmp_path):
    """q385's stage 1 keeps one doc per md5 key, and a NULL text is one
    more key (the window partitions NULLs together). A documents
    table with one NULL text must report stage-1 n_out equal to that
    keep1 row count — the distinct texts, NULL included — and hand
    the same count to stage 2 as n_in."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cli_spark.operators.pipeline import q385_dedup_cascade_audit

    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    docs = tbl.to_pandas()
    docs.loc[docs["doc_id"].idxmin(), "text"] = None
    pq.write_table(pa.Table.from_pandas(docs, schema=tbl.schema,
                                        preserve_index=False),
                   tmp_path / "documents.parquet")
    os.symlink(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")

    keep1_rows = docs["text"].nunique(dropna=False)
    assert docs["text"].isna().sum() == 1
    rows = {r["stage"]: r
            for r in q385_dedup_cascade_audit(spark, str(tmp_path)).collect()}
    assert rows["1_exact"]["n_in"] == len(docs)
    assert rows["1_exact"]["n_out"] == keep1_rows
    assert rows["2_minhash"]["n_in"] == keep1_rows
