"""Audit-staleness CI gate (r12 verdict task 4).

The driver hash-checks the first 50 ids of ``queries()`` order each
round and records the window in ``CORRECTNESS_r{N}.json``.
``__spark_entry__.audit_order`` derives that order from the committed
ledgers: red ids, then ``_AUDIT_PRIORITY``, then never-audited ids,
then everything else by (round, window position) of its newest row —
so every id's evidence stays fresh without a hand rotation.  These
tests pin each rule on a synthetic ledger and check the real order
against an independent reader of the committed files, so a walk that
stalls (window re-checking fresh ids while a stale tranche ages out)
goes red at HEAD.

Steady state: 291 ids / 50-id windows = a full cycle every 6 rounds, so
the hard bound is age <= 7 (one round of slack for priority/new-id
slots taking window space).  No Spark session needed — ``queries()``
only touches the registries.
"""

import glob
import json
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as entry
from __spark_entry__ import _AUDIT_PRIORITY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Steady-state full-cycle length is ceil(291/50)=6 rounds; one round of
#: slack for windows partially spent on retry/priority/new-id slots.
MAX_AGE_ROUNDS = 7

WINDOW = 50


@pytest.fixture(scope="module")
def ledger():
    """{id: last_driver_checked_round} over every committed
    CORRECTNESS_r*.json, the newest round number, and the ids whose
    newest row is hash-red."""
    last: dict[str, int] = {}
    newest_hash: dict[str, object] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        rounds.append(rnd)
        with open(path) as fh:
            for qid, row in json.load(fh).items():
                if rnd >= last.get(qid, 0):
                    last[qid] = rnd
                    newest_hash[qid] = row.get("hash_match")
    assert rounds, "no CORRECTNESS_r*.json ledger found"
    red = {q for q, h in newest_hash.items() if h is False}
    return last, max(rounds), red


@pytest.fixture(scope="module")
def order():
    return list(entry.queries())


def test_registry_tuples_are_consistent(order):
    """_AUDIT_PRIORITY ids are registered and unique."""
    prio = list(_AUDIT_PRIORITY)
    assert len(prio) == len(set(prio)), "_AUDIT_PRIORITY has duplicates"
    unknown = set(prio) - set(order)
    assert not unknown, f"_AUDIT_PRIORITY ids not registered: {sorted(unknown)}"


#: a synthetic registry: registration order, with one rows-only id
NAMES = ["q_fresh_rows", "q_a", "q_b", "q_c", "q_d", "q_fresh_oracled", "q_e"]
ORACLED = [n for n in NAMES if n != "q_fresh_rows"]


@pytest.fixture
def synthetic_ledger(tmp_path):
    """Two fake rounds, r9 then r10 (numeric, not lexicographic, order):
    q_a is re-audited, q_b's red turns green, q_d's newest row is red,
    and q_gone is no longer registered.  A non-round ledger beside them
    is ignored."""
    g, r = {"hash_match": True}, {"hash_match": False}
    rounds = {
        9: {"q_a": g, "q_b": r, "q_c": g, "q_e": g, "q_gone": g},
        10: {"q_d": r, "q_b": g, "q_a": g},
    }
    for rnd, window in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(window))
    (tmp_path / "CORRECTNESS_SF1.json").write_text(json.dumps({"q_c": r}))
    return entry.audit_ledger(str(tmp_path))


def test_audit_ledger_keeps_each_ids_newest_row(synthetic_ledger):
    assert synthetic_ledger == {
        "q_a": (10, 2, True),
        "q_b": (10, 1, True),
        "q_c": (9, 2, True),
        "q_d": (10, 0, False),
        "q_e": (9, 3, True),
        "q_gone": (9, 4, True),
    }


def test_audit_order_rules(synthetic_ledger, monkeypatch):
    """Red first, then never-audited (oracled before rows-only), then
    the stalest confirmation first: q_a, first in r9's window, moved to
    the tail when r10 re-audited it; the unregistered q_gone is dropped."""
    monkeypatch.setattr(entry, "_AUDIT_PRIORITY", ())
    assert entry.audit_order(NAMES, ORACLED, synthetic_ledger) == [
        "q_d", "q_fresh_oracled", "q_fresh_rows", "q_c", "q_e", "q_b", "q_a",
    ]


def test_audit_priority_follows_the_red_ids(synthetic_ledger, monkeypatch):
    """A priority id leads even when audited (q_c) or never audited
    (q_fresh_rows), and only once when it is also red (q_d)."""
    monkeypatch.setattr(entry, "_AUDIT_PRIORITY", ("q_c", "q_d", "q_fresh_rows"))
    assert entry.audit_order(NAMES, ORACLED, synthetic_ledger) == [
        "q_d", "q_c", "q_fresh_rows", "q_fresh_oracled", "q_e", "q_b", "q_a",
    ]


def test_no_ledger_gives_registration_order(tmp_path):
    """Every registered id has an oracle, so without ledger files the
    audit order is the ``_AUDIT_PRIORITY`` ids, then the registration
    order."""
    from opl_spark import workload

    qs, osql = workload.queries(), workload.oracle_sql()
    assert set(osql) == set(qs)
    ledger = entry.audit_ledger(str(tmp_path))
    assert ledger == {}
    prio = list(entry._AUDIT_PRIORITY)
    assert entry.audit_order(qs, osql, ledger) == prio + [
        n for n in qs if n not in prio
    ]


def test_order_does_not_depend_on_the_cwd(tmp_path, order):
    """The harness imports the contract from outside the repo: the
    ledgers are found beside the module, not in the cwd."""
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__ as e\n"
        "print(json.dumps(list(e.queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == order


def test_every_id_is_ledgered_or_leads_the_window(ledger, order):
    """A registered id the driver has NEVER checked must sit inside the
    upcoming 50-id window (new ids lead by construction of
    audit_order); anything else is an id that can never receive the
    hard signal."""
    last, _, _ = ledger
    window = set(order[:WINDOW])
    orphans = [q for q in order if q not in last and q not in window]
    assert not orphans, (
        f"never-driver-checked ids outside the upcoming window: {orphans}"
    )


def test_no_id_is_staler_than_the_cycle_bound(ledger, order):
    """Hard bound: every ledgered id's last driver check is at most
    MAX_AGE_ROUNDS behind the newest committed round.  Goes red when
    the rotation stops walking."""
    last, newest, _ = ledger
    stale = {
        q: last[q]
        for q in order
        if q in last and newest - last[q] > MAX_AGE_ROUNDS
    }
    assert not stale, (
        f"ids last driver-checked > {MAX_AGE_ROUNDS} rounds ago "
        f"(newest round r{newest}): {stale}"
    )


def test_upcoming_window_leads_with_the_stalest_ids(ledger, order):
    """The walk must actually walk: every ledgered id at the maximum
    staleness (excluding red and priority re-entries, which legitimately
    jump the queue regardless of age) must be inside the upcoming
    window — unless there are more such ids than the window's
    non-priority slots, in which case those slots must all be spent on
    max-staleness ids."""
    last, newest, red = ledger
    jumpers = red | set(_AUDIT_PRIORITY)
    ages = {
        q: newest - last[q] for q in order if q in last and q not in jumpers
    }
    if not ages:
        return
    max_age = max(ages.values())
    stalest = {q for q, a in ages.items() if a == max_age}
    window = order[:WINDOW]
    free_slots = [q for q in window if q not in jumpers and q in last]
    inside = stalest & set(window)
    if len(stalest) <= len(free_slots):
        missing = stalest - inside
        assert not missing, (
            f"stalest ids (age {max_age}) not in the upcoming 50-id "
            f"window: {sorted(missing)}"
        )
    else:
        # more stalest ids than slots: every regression slot must be
        # spent on one of them
        wasted = [q for q in free_slots if q not in stalest]
        assert not wasted, (
            f"window slots spent on fresher ids while age-{max_age} ids "
            f"wait: {wasted}"
        )


def test_survey_inventory_is_generated_and_covers_registry(order):
    """r12 verdict task 8: SURVEY.md §7.5 carries the GENERATED
    inventory — marker-delimited, one row per registered id.  A new
    query without a regenerated survey (or a hand-deleted row) fails
    here; audit-column drift alone does not (the ledger test above
    owns staleness)."""
    import tools.gen_survey_inventory as gen

    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        text = fh.read()
    assert gen.BEGIN in text and gen.END in text
    block = text.split(gen.BEGIN)[1].split(gen.END)[0]
    listed = set(re.findall(r"^\| `(q_\w+)` \|", block, re.M))
    assert listed == set(order), (
        f"generated inventory out of sync: missing={sorted(set(order) - listed)} "
        f"extra={sorted(listed - set(order))} — run tools/gen_survey_inventory.py"
    )
