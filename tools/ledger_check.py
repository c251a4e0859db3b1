"""Programmatic rotation-ledger derivation — the single source of truth.

The driver's per-round gate checks the FIRST 50 entries of
``__spark_entry__.queries()`` and records per-query verdicts in
``CORRECTNESS_r{N}.json``. This tool derives cumulative driver
evidence from those files (green = rows+schema+hash all true) instead
of hand-maintaining a list in README.md, which drifted (13 stale
entries found by the round-6 judge).

Usage:
    PYTHONPATH=. python tools/ledger_check.py            # summary
    PYTHONPATH=. python tools/ledger_check.py --readme   # emit README block
    PYTHONPATH=. python tools/ledger_check.py --check    # exit 1 on README drift
    PYTHONPATH=. python tools/ledger_check.py --plan-next  # next window per SURVEY §8
    PYTHONPATH=. python tools/ledger_check.py --stamp-oracles  # refresh ORACLE_HASHES.json
                                                          # (run at ROUND START, pre-edit)

``tests/test_ledger.py`` runs the ``--check`` logic under pytest so any
future drift between README.md and the CORRECTNESS record fails CI.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- ledger:auto:begin (tools/ledger_check.py) -->"
END = "<!-- ledger:auto:end -->"

#: gate keys deliberately CONSOLIDATED out of the registry (SURVEY §8
#: rule 4): key -> the surviving key whose oracle now covers the
#: surface. Their historical CORRECTNESS rows are legitimate, not
#: orphan drift; each consolidation is pinned by an equivalence test
#: in tests/test_consolidated_keys.py.
CONSOLIDATED = {
    "session_window": "sessionize",  # r13
    "tws_first_seen": "first_seen",  # r13
    "sql_nested_semi": "semi_join",  # r15
    "cascading_rollup": "rollup",  # r17 (pins drafted+green r16)
    "table_profile": "table_profile_approx",  # r18 (pins drafted+green r17)
}

#: the SURVEY §8 rule-2 headline bench queries — re-gated as window
#: capacity permits, with a max headliner evidence age of 2 (the
#: bench suite still TIMES its full HEADLINE list every round; only
#: the correctness re-gate rotates). Kept here so the age report
#: below can check the tighter headliner bound mechanically instead
#: of each round's builder recomputing it by hand.
HEADLINERS = (
    "pricing_summary",
    "merge_upsert",
    "dedup_minhash_lsh",
    "ann_topk",
    "windowed_rollup",
    "sessionize",
)


def _is_green(v: dict) -> bool:
    return bool(v.get("rows_match") and v.get("schema_match") and v.get("hash_match"))


def driver_evidence(
    repo: str = REPO, through_round: int | None = None
) -> dict[str, list[int]]:
    """Map query name -> sorted list of driver rounds where it was green.

    ``through_round`` bounds the derivation so a round-stamped README
    block stays reproducible after the driver drops a NEW
    CORRECTNESS file mid-judging (the next builder refreshes the
    stamp; the judge's pytest run must not go red in between)."""
    out: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if through_round is not None and rnd > through_round:
            continue
        with open(path) as fh:
            data = json.load(fh)
        for name, verdict in data.items():
            if _is_green(verdict):
                out.setdefault(name, []).append(rnd)
    return {k: sorted(v) for k, v in out.items()}


def latest_round(repo: str = REPO) -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds) if rounds else 0


def _entry_module(repo: str = REPO):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_entry_for_ledger", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def registry_names(repo: str = REPO) -> list[str]:
    return list(_entry_module(repo).queries())


# --- changed-oracle detection (r16, r15 judge directive #2) ----------
#
# A key whose oracle_sql() TEXT changed after its last driver gate
# carries driver evidence for a comparison that no longer exists —
# exactly what happened to `ohlc`/`gapfill` when the r15 TZ fix
# rewrote their oracle strings one round after their r14 gate, leaving
# them green-on-paper but unverified-by-the-driver until r18 under
# plain rotation. ORACLE_HASHES.json records, per key, the sha256 of
# the oracle text AS GATED (seeded r16 from the parent tree of each
# driver `round N:` commit; refreshed by --stamp-oracles at the start
# of each round, when the tree is still exactly the one the driver
# gated). plan_next ranks changed keys in the red tier.

SIDECAR = "ORACLE_HASHES.json"


def _sha(text: str) -> str:
    import hashlib

    return hashlib.sha256(text.encode()).hexdigest()


def oracle_sidecar(repo: str = REPO) -> dict[str, dict]:
    path = os.path.join(repo, SIDECAR)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def current_oracle_hashes(repo: str = REPO) -> dict[str, str]:
    mod = _entry_module(repo)
    if not hasattr(mod, "oracle_sql"):
        return {}
    return {k: _sha(v) for k, v in mod.oracle_sql().items()}


def changed_oracle_keys(repo: str = REPO) -> list[str]:
    """Registry keys whose CURRENT oracle text differs from the text
    at their last driver gate (per the sidecar). Keys absent from the
    sidecar (brand-new, never stamped) are NOT listed here — they are
    already caught by the never-gated tier."""
    side = oracle_sidecar(repo)
    if not side:
        return []
    cur = current_oracle_hashes(repo)
    names = set(registry_names(repo))
    return sorted(
        k for k, rec in side.items()
        if k in names and k in cur and cur[k] != rec.get("hash")
    )


def stamp_oracles(repo: str = REPO) -> list[str]:
    """Refresh the sidecar for every key GREEN in the latest
    CORRECTNESS file, recording the current oracle hash and that
    round. Run at the START of a round, before any oracle edit — the
    tree is then byte-identical to the one the driver gated, so the
    hash faithfully records the as-gated text. Returns the stamped
    keys."""
    now = latest_round(repo)
    if not now:
        return []
    path = os.path.join(repo, f"CORRECTNESS_r{now:02d}.json")
    with open(path) as fh:
        data = json.load(fh)
    side = oracle_sidecar(repo)
    cur = current_oracle_hashes(repo)
    stamped = []
    for name, verdict in data.items():
        if _is_green(verdict) and name in cur:
            side[name] = {"hash": cur[name], "round": now}
            stamped.append(name)
    # drop keys consolidated out of the registry
    names = set(registry_names(repo))
    side = {k: v for k, v in side.items() if k in names}
    with open(os.path.join(repo, SIDECAR), "w") as fh:
        json.dump(side, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return sorted(stamped)


def ledger(repo: str = REPO, through_round: int | None = None) -> dict:
    evidence = driver_evidence(repo, through_round)
    names = registry_names(repo)
    never = [n for n in names if n not in evidence]
    multi = [n for n in names if len(evidence.get(n, [])) >= 2]
    window = names[:50]
    first_evidence = [n for n in window if n not in evidence]
    orphans = sorted(set(evidence) - set(names) - set(CONSOLIDATED))
    return {
        "registry": names,
        "evidence": evidence,
        "never_gated": never,
        "gated_2plus": multi,
        "window": window,
        "window_first_evidence": first_evidence,
        "orphans": orphans,
    }


def red_rows(repo: str = REPO) -> list[str]:
    """Registry keys whose row in the LATEST CORRECTNESS file is not
    green — rule 2 slot-1 re-gates."""
    now = latest_round(repo)
    if not now:
        return []
    path = os.path.join(repo, f"CORRECTNESS_r{now:02d}.json")
    if not os.path.exists(path):
        path = os.path.join(repo, f"CORRECTNESS_r{now}.json")
    with open(path) as fh:
        data = json.load(fh)
    names = set(registry_names(repo))
    return sorted(n for n, v in data.items() if n in names and not _is_green(v))


def plan_next(repo: str = REPO) -> dict:
    """Compose the NEXT round's 50-key gate window mechanically, per
    SURVEY §8 rule 2 (r15: makes the rotation arithmetic a tool
    output instead of per-round hand derivation — the same motivation
    as the r14 headliner report).

    Order: (1) red-row re-gates from the latest CORRECTNESS file,
    then changed-oracle keys (r16: a key whose oracle_sql() text
    moved after its last gate is treated like a red — its green
    evidence verified a comparison that no longer exists);
    (2) the ENTIRE oldest-age bucket; (3) headliners, any at the
    age-2 bound first (excluding one would breach the ≤2 post-gate
    bound), then the rest oldest-first as capacity permits; (4) fill
    from the next-oldest buckets, alphabetical within a bucket.
    Fill slots are DISCRETIONARY — the builder may spend them on ≤2
    new keys (rule 1) or a rule-4 consolidation survivor instead.
    Overflow (reds + oldest bucket + bound-breaching headliners > 50)
    is reported, not resolved: it needs a rule-4 consolidation or an
    explicit rule-2 deferral, both builder decisions."""
    led = ledger(repo)
    now = latest_round(repo)
    names = led["registry"]
    ages = {
        n: now - max(v) for n, v in led["evidence"].items() if n in set(names)
    }
    reds = red_rows(repo)
    window: list[str] = list(reds)
    notes: list[str] = []
    if reds:
        notes.append(f"slot-1 red re-gates: {len(reds)}")
    # changed-oracle keys rank in the red tier (r16, r15 judge
    # directive #2): their driver evidence predates their current
    # oracle text, so it verifies nothing until re-gated
    changed = [
        c for c in changed_oracle_keys(repo) if c not in set(window)
    ]
    window += changed
    if changed:
        notes.append(
            "changed-oracle keys (oracle_sql text moved since last "
            "gate — red-tier): " + ", ".join(changed)
        )
    # r17 (r16 judge "What's wrong #4"): a changed-oracle key that is
    # GREEN in the latest CORRECTNESS file very likely gated on its
    # current text and only the round-start sidecar stamp is missing
    # — say so inline, so a fresh context doesn't compose a window
    # that wastes slots re-gating just-greened keys before reading
    # the handoff's ROUND START bullet.
    stamp_to_clear = [c for c in changed if now in led["evidence"].get(c, [])]
    if stamp_to_clear:
        notes.append(
            "STAMP TO CLEAR: " + ", ".join(stamp_to_clear)
            + f" — green in CORRECTNESS_r{now:02d} (the latest gate). If "
            "the oracle text is unchanged since that gate (the normal "
            "round-start state), run `ledger_check --stamp-oracles` "
            "FIRST to clear them from the red tier instead of spending "
            "window slots re-gating just-greened keys; only a key whose "
            "text moved AFTER the gate genuinely needs a slot"
        )
    # never-gated keys have NO age entry (they never greened) and
    # would otherwise be invisible to the bucket/fill passes — but a
    # key outside the window gains no driver evidence at all (§8
    # rule 1: new keys MUST land inside the window), so they gate
    # with slot-1 priority, right after reds
    never = sorted(n for n in names if n not in led["evidence"])
    window += [n for n in never if n not in set(window)]
    if never:
        notes.append(
            f"never-gated keys (must gate, rule 1): {len(never)}"
        )
    oldest = max(ages.values()) if ages else 0
    bucket = sorted(n for n, a in ages.items() if a == oldest)
    window += [n for n in bucket if n not in set(window)]
    required = [
        h for h in HEADLINERS
        if h in ages and ages[h] >= 2 and h not in set(window)
    ]
    optional = sorted(
        (h for h in HEADLINERS
         if h in ages and 0 < ages[h] < 2 and h not in set(window)),
        key=lambda h: (-ages[h], h),
    )
    overflow = len(window) + len(required) - 50
    if overflow > 0:
        notes.append(
            f"OVERFLOW by {overflow}: reds + never-gated + oldest "
            "bucket + bound headliners exceed 50 — a rule-4 "
            "consolidation or an explicit deferral is needed"
        )
    window += [h for h in required if len(window) < 50]
    for h in optional:
        if len(window) < 50:
            window.append(h)
    deferred = [
        h for h in required + optional if h not in set(window)
    ]
    if deferred:
        notes.append("headliners deferred for capacity: " + ", ".join(deferred))
    fill_start = len(window)
    for age in sorted(set(ages.values()), reverse=True):
        if age == oldest:
            continue
        for n in sorted(n for n, a in ages.items() if a == age):
            if len(window) >= 50:
                break
            if n not in set(window):
                window.append(n)
    n_fill = len(window) - fill_start
    if n_fill:
        notes.append(
            f"fill slots (discretionary — ≤2 new keys or a rule-4 "
            f"consolidation survivor may take them): {n_fill}"
        )
    return {
        "round": now + 1,
        "window": window[:50],
        "reds": reds,
        "changed_oracle": changed,
        "stamp_to_clear": stamp_to_clear,
        "never_gated": never,
        "oldest_age": oldest,
        "oldest_bucket": bucket,
        "headliners_required": required,
        "headliners_optional": [h for h in optional if h in set(window)],
        "n_fill": n_fill,
        "notes": notes,
    }


def readme_block(repo: str = REPO, through_round: int | None = None) -> str:
    """The auto-generated README ledger section, deterministic.

    Round-stamped: the block names the last round it covers, and the
    drift check re-derives from exactly those rounds — so the driver
    dropping a NEW round's file never fails the in-tree test; only a
    hand edit or a forgotten refresh (2+ rounds behind) does."""
    if through_round is None:
        through_round = latest_round(repo)
    led = ledger(repo, through_round)
    n_total = len(led["registry"])
    n_never = len(led["never_gated"])
    lines = [
        BEGIN,
        f"Derived from `CORRECTNESS_r*.json` through r{through_round:02d} "
        f"by `tools/ledger_check.py` "
        f"(verified in CI by `tests/test_ledger.py`); registry = {n_total} queries.",
        "",
        f"**Awaiting first driver evidence ({n_never}):** "
        + (", ".join(f"`{n}`" for n in led["never_gated"]) if led["never_gated"] else "none"),
        "",
        f"**Current 50-slot gate window:** {len(led['window_first_evidence'])} of 50 "
        "entries would gain first driver evidence next driver run.",
        END,
    ]
    return "\n".join(lines)


def check_readme(repo: str = REPO) -> list[str]:
    """Return a list of drift problems (empty = in sync)."""
    problems: list[str] = []
    led = ledger(repo)
    if led["orphans"]:
        problems.append(
            "CORRECTNESS records queries absent from the registry: "
            + ", ".join(led["orphans"])
        )
    # changed-oracle keys outside the shipped window (r16): their
    # driver evidence verified a comparison that no longer exists and
    # plain rotation may not reach them for rounds — the exact class
    # that slipped through in r15 (ohlc/gapfill). Also pinned by
    # tests/test_ledger.py, but --check runs inside final_gate, so
    # the gate itself goes red on it.
    outside = [
        c for c in changed_oracle_keys(repo)
        if c not in set(led["window"])
    ]
    if outside:
        problems.append(
            "changed-oracle keys outside the 50-key gate window "
            "(rotate them in, or --stamp-oracles after a deliberate "
            "no-op edit): " + ", ".join(outside)
        )
    readme_path = os.path.join(repo, "README.md")
    with open(readme_path) as fh:
        text = fh.read()
    if BEGIN not in text or END not in text:
        problems.append("README.md is missing the ledger auto-block markers")
        return problems
    current = text[text.index(BEGIN) : text.index(END) + len(END)]
    m = re.search(r"through r(\d+)", current)
    stamp = int(m.group(1)) if m else None
    if stamp is None:
        problems.append("README.md ledger auto-block has no round stamp")
        return problems
    expected = readme_block(repo, stamp)
    if current.strip() != expected.strip():
        problems.append("README.md ledger auto-block is stale — regenerate with --write")
    if latest_round(repo) - stamp >= 2:
        problems.append(
            f"README.md ledger stamp r{stamp:02d} is 2+ rounds behind "
            f"r{latest_round(repo):02d} — regenerate with --write"
        )
    return problems


def write_readme(repo: str = REPO) -> None:
    readme_path = os.path.join(repo, "README.md")
    with open(readme_path) as fh:
        text = fh.read()
    block = readme_block(repo)
    if BEGIN in text and END in text:
        text = text[: text.index(BEGIN)] + block + text[text.index(END) + len(END) :]
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(readme_path, "w") as fh:
        fh.write(text)


def main() -> int:
    args = sys.argv[1:]
    if "--readme" in args:
        print(readme_block())
        return 0
    if "--write" in args:
        write_readme()
        print("README.md ledger block regenerated")
        return 0
    if "--stamp-oracles" in args:
        stamped = stamp_oracles()
        print(f"stamped {len(stamped)} keys from "
              f"CORRECTNESS_r{latest_round():02d} into {SIDECAR}")
        leftover = changed_oracle_keys()
        print("still changed-since-last-gate:",
              ", ".join(leftover) or "none")
        return 0
    if "--plan-next" in args:
        plan = plan_next()
        print(f"planned r{plan['round']} window (SURVEY §8 rule 2, "
              f"mechanical; evidence through r{plan['round'] - 1}):")
        print(f"  red re-gates ({len(plan['reds'])}):",
              ", ".join(plan["reds"]) or "none")
        print(f"  changed-oracle re-gates, red tier "
              f"({len(plan['changed_oracle'])}):",
              ", ".join(plan["changed_oracle"]) or "none")
        print(f"  never-gated, must gate ({len(plan['never_gated'])}):",
              ", ".join(plan["never_gated"]) or "none")
        print(f"  oldest bucket (age {plan['oldest_age']}, "
              f"{len(plan['oldest_bucket'])} keys):",
              ", ".join(plan["oldest_bucket"]))
        print(f"  headliners at the age-2 bound (must gate):",
              ", ".join(plan["headliners_required"]) or "none")
        print(f"  headliners as capacity permits:",
              ", ".join(plan["headliners_optional"]) or "none")
        print(f"  fill (discretionary): {plan['n_fill']}")
        for note in plan["notes"]:
            print("  NOTE:", note)
        print(f"  composed window ({len(plan['window'])}):")
        for i in range(0, len(plan["window"]), 5):
            print("   ", ", ".join(plan["window"][i : i + 5]))
        return 0
    if "--check" in args:
        problems = check_readme()
        for p in problems:
            print("DRIFT:", p)
        print("ledger: OK" if not problems else f"ledger: {len(problems)} problem(s)")
        return 1 if problems else 0
    led = ledger()
    print(f"registry: {len(led['registry'])} queries")
    print(f"driver-green at least once: {len(led['evidence'])}")
    print(f"never gated: {len(led['never_gated'])}")
    print(f"gated 2+ rounds: {len(led['gated_2plus'])}")
    print(f"window first-evidence count: {len(led['window_first_evidence'])}/50")
    print("never gated:", ", ".join(led["never_gated"]) or "none")
    changed = changed_oracle_keys()
    print("changed-oracle keys (text moved since last gate):",
          ", ".join(changed) or "none")
    if changed:
        out = [c for c in changed if c not in set(led["window"])]
        if out:
            print("WARNING: changed-oracle keys OUTSIDE the gate "
                  "window (their driver evidence verifies a stale "
                  "comparison):", ", ".join(out))
    # evidence-age report (r8 judge directive #8: the rotation policy
    # is "oldest evidence refresh" — age = rounds since last green)
    now = latest_round(repo=REPO)
    ages = {
        n: now - max(v) for n, v in led["evidence"].items()
        if n in led["registry"]
    }
    if ages:
        import collections

        hist = collections.Counter(ages.values())
        print("evidence-age histogram (rounds since last green):",
              dict(sorted(hist.items())))
        worst = max(ages.values())
        stale = sorted(n for n, a in ages.items() if a == worst)
        print(f"max evidence age: {worst} round(s): "
              + ", ".join(stale[:10])
              + (" …" if len(stale) > 10 else ""))
        nxt = [n for n in led["window"] if n in ages]
        print(f"window refresh: {len(nxt)} previously-evidenced queries "
              f"re-gated next driver run (their age resets to 0)")
        # rule-2 headliner report: current age and the age each
        # headliner will carry AFTER the pending window gates green
        # (in-window -> 0, else age+1); flag any projected breach of
        # the <=2 headliner bound so the rotation mistake is caught
        # BEFORE the round ships, not by the judge
        in_window = set(led["window"])
        parts, breaches = [], []
        for h in HEADLINERS:
            if h not in ages:
                parts.append(f"{h}=? (no evidence)")
                continue
            proj = 0 if h in in_window else ages[h] + 1
            parts.append(f"{h}={ages[h]}→{proj}")
            if proj > 2:
                breaches.append(h)
        print("headliner ages (now→post-gate):", ", ".join(parts))
        if breaches:
            print("WARNING: headliner age bound (<=2) breached "
                  "post-gate by:", ", ".join(breaches))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
