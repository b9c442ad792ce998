"""Driver-window rotation rules (plans/catalog.py).

The ordering of all_specs() IS the evidence policy: the external driver
checks only the first 50 entries per round. A bug here silently wastes a
whole round of correctness evidence (round 2 lost a slot to an
unscoreable rows-only spec), so the rules are pinned against synthetic
CORRECTNESS records:

1. a fully-green oracle row is terminal (drops behind pending queries);
2. a FAILED oracle row keeps (regains) a window slot;
3. a rows-only ``no_oracle`` row is terminal (the driver can never score
   it better);
4. a rows-only row with an EXPLICIT False verdict keeps its slot;
5. pending specs come first in registration order, then terminal specs
   by (evidence round, registration order).
"""

from __future__ import annotations

import glob as glob_mod
import json

from nrg_etl_airflow_spark_emr_spark.plans import catalog as cat


def _with_records(tmp_path, monkeypatch, records: dict) -> list[str]:
    p = tmp_path / "CORRECTNESS_r99.json"
    p.write_text(json.dumps(records))
    monkeypatch.setattr(glob_mod, "glob", lambda pattern: [str(p)])
    return list(cat.all_specs())


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
FAILED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
NO_ORACLE = {
    "rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"
}
ROWS_ONLY_FAIL = {"rows_match": False, "schema_match": None, "hash_match": None}


def test_green_oracle_row_is_terminal(tmp_path, monkeypatch):
    ordered = _with_records(
        tmp_path, monkeypatch, {"q1_pricing_summary": GREEN}
    )
    # Terminal queries sort behind pending ones.
    assert ordered.index("q1_pricing_summary") > ordered.index("q3_shipping_priority")


def test_failed_oracle_row_keeps_window_slot(tmp_path, monkeypatch):
    ordered = _with_records(
        tmp_path, monkeypatch,
        {"q1_pricing_summary": GREEN, "q3_shipping_priority": FAILED},
    )
    assert ordered.index("q3_shipping_priority") < ordered.index("q1_pricing_summary")
    green = cat._driver_evidence()
    assert "q1_pricing_summary" in green
    assert "q3_shipping_priority" not in green


def test_no_oracle_row_is_terminal_for_rows_only_spec(tmp_path, monkeypatch):
    _with_records(tmp_path, monkeypatch, {"approx_sketches": NO_ORACLE})
    assert "approx_sketches" in cat._driver_evidence()


def test_explicit_false_keeps_rows_only_spec_pending(tmp_path, monkeypatch):
    # mm_byte_histogram is a (still) rows-only spec; the former subjects
    # of this test (sim_knn_pq, then sim_knn_ivfpq) graduated to
    # oracle-gated in round 9.
    _with_records(tmp_path, monkeypatch, {"mm_byte_histogram": ROWS_ONLY_FAIL})
    assert "mm_byte_histogram" not in cat._driver_evidence()


def _with_rounds(tmp_path, monkeypatch, per_round: dict) -> list[str]:
    """per_round: {round_number: {name: record}} written as separate
    CORRECTNESS_r{N}.json files, processed in round order."""
    paths = []
    for rnd, records in sorted(per_round.items()):
        p = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        p.write_text(json.dumps(records))
        paths.append(str(p))
    monkeypatch.setattr(glob_mod, "glob", lambda pattern: paths)
    return list(cat.all_specs())


def test_terminal_greens_order_oldest_evidence_first(tmp_path, monkeypatch):
    # q1 last green in r1, q3 refreshed green in r3: the re-check tail
    # must put q1 (stalest evidence) before q3.
    ordered = _with_rounds(
        tmp_path, monkeypatch,
        {1: {"q1_pricing_summary": GREEN, "q3_shipping_priority": GREEN},
         3: {"q3_shipping_priority": GREEN}},
    )
    assert ordered.index("q1_pricing_summary") < ordered.index("q3_shipping_priority")
    ev = cat._driver_evidence()
    assert ev["q1_pricing_summary"] == 1 and ev["q3_shipping_priority"] == 3


def test_later_red_overrides_earlier_green(tmp_path, monkeypatch):
    # Green in r1 but red in r3: the query must regain a window slot.
    ordered = _with_rounds(
        tmp_path, monkeypatch,
        {1: {"q1_pricing_summary": GREEN, "q3_shipping_priority": GREEN},
         3: {"q1_pricing_summary": FAILED}},
    )
    ev = cat._driver_evidence()
    assert "q1_pricing_summary" not in ev
    # Pending again => sorts with the pending block, i.e. ahead of every
    # terminal spec.
    first_terminal = min(i for i, n in enumerate(ordered) if n in ev)
    assert ordered.index("q1_pricing_summary") < first_terminal


def test_pending_then_terminal_in_registration_order(tmp_path, monkeypatch):
    # Pending specs keep registration order; terminal specs with equal
    # evidence rounds tie-break on registration order too.
    cat._load()
    names = list(cat._REGISTRY)
    greens = names[::3]
    ordered = _with_rounds(tmp_path, monkeypatch, {7: {n: GREEN for n in greens}})
    pending = [n for n in names if n not in greens]
    assert ordered == pending + greens


def test_simulated_round6_window_is_pure_recheck(tmp_path, monkeypatch):
    """Round-5 closure pin: the round-5 window covers EVERY remaining
    evidence-lacking oracle-gated spec (25 pending + 25 re-checks at
    round-5 open). If the driver greens it, no oracle-gated spec lacks
    evidence any more, so round 6's window must be 50 terminal-green
    re-checks, oldest evidence first — the catalog reaches 100%
    driver-verified and stays there by rotation alone."""
    cat._load()
    ordered_now = list(cat.all_specs())
    ev_now = cat._driver_evidence()
    pending_now = [n for n in ordered_now if n not in ev_now]
    # Precondition of the closure claim: every pending spec fits in the
    # round-5 window (this fails loudly if a future registration breaks
    # the freeze).
    assert len(pending_now) <= 50
    assert all(n in ordered_now[:50] for n in pending_now)
    r5 = {
        n: (NO_ORACLE if cat._REGISTRY[n].oracle is None else GREEN)
        for n in ordered_now[:50]
    }
    prior = {n: GREEN for n in ev_now if n not in r5}
    ordered = _with_rounds(tmp_path, monkeypatch, {4: prior, 5: r5})
    ev = cat._driver_evidence()
    assert len(ev) == len(cat._REGISTRY), "every spec terminal after round 5"
    window = ordered[:50]
    ages = [ev[n] for n in window]
    assert ages == sorted(ages), "round-6 window re-checks oldest first"
    assert all(ev[n] <= min(
        ev[m] for m in ordered[50:]
    ) for n in window), "no staler spec left outside the window"
