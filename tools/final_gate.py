"""ONE final-gate command, run on the FINAL tree — r11 judge
directive #3.

r11's red row shipped because the type audit ran at registry 184 and
two queries landed later; nothing forced a re-run. This tool makes
"the audits ran on the tree you shipped" a single invocation whose
stamp names the git hash it ran against — if the hash in EVIDENCE
differs from the round's last commit, the gate did not run on the
final tree and the stamp says so.

Runs, in order (each step's full output goes to /tmp/final_gate/):

  1. full-registry check_oracle           (local mimic, sf0.01)
  2. check_oracle --vanilla <new/changed> (driver-exact session)
  3. driver_dryrun FULL REGISTRY          (pandas canonicalization —
     standing since r13, judge directive #3: the full rehearsal is
     the single best predictor of driver-red rows and protects the
     NEXT round's rotation, not just this window's. ~7 min.
     --window-only rehearses just the 50-key window when iterating.)
  4. type_audit                           (registry-wide, KIND-level)
  5. plan_audit <new/changed>             (scale plan properties)
  6. check_oracle <new/changed> under TZ=America/Bogota
     (r16 standing leg, r15 judge directive #5: the r15 host-TZ
     sweep caught a 5-query defect class — F.lit(naive datetime)
     converting through the Python local zone, DuckDB to_timestamp
     rendering TIMESTAMPTZ in host TZ — that a UTC-only gate never
     sees. Any round that changes queries()/oracle_sql() entries or
     the date/timeseries engine paths re-runs its changed entries
     with the WHOLE stack (Python, JVM, DuckDB) in a shifted zone.
     ~30-60 s for a handful of entries. Skipped, with the reason
     printed, only when no changed entries are named AND the
     date-sensitive engine files are untouched vs HEAD~1.
     --tz-full forces the full-registry Bogota sweep (~7 min).)
  7. check_oracle --master local-cluster[2,4,2048] <smoke set>
     (standing since r17, r16 judge directive #7: separate executor
     JVMs + executor-side Python workers — catches serializer /
     classpath / import assumptions single-JVM local[32] hides.
     Headliners + one canary per Python-kernel class. ~2 min.)
  8. pytest -m slow                       (streaming + hypothesis
     suites — behind the `slow` marker since r17 for the fast loop,
     gated here every round. ~4 min.)
  9. ledger_check --check                 (README ledger drift)

Usage:
    PYTHONPATH=. python tools/final_gate.py [--window-only] \
        [--tz-full] [new_or_changed_query ...]

Exit 0 only if every step passes. Paste the printed stamp block into
EVIDENCE_r{N}.md verbatim.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG_DIR = "/tmp/final_gate"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()


def _run(
    step: str, cmd: list[str], extra_env: dict[str, str] | None = None
) -> tuple[str, bool, float]:
    os.makedirs(LOG_DIR, exist_ok=True)
    log = os.path.join(LOG_DIR, f"{step}.log")
    env = dict(os.environ, PYTHONPATH=REPO, **(extra_env or {}))
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(
            cmd, cwd=REPO, env=env, stdout=fh, stderr=subprocess.STDOUT
        ).returncode
    dt = time.time() - t0
    ok = rc == 0
    tail = ""
    if not ok:
        with open(log) as fh:
            tail = "".join(fh.readlines()[-15:])
    print(f"  [{'PASS' if ok else 'FAIL'}] {step} ({dt:.0f}s) -> {log}")
    if tail:
        print(tail)
    return step, ok, dt


def main() -> int:
    args = sys.argv[1:]
    window = 0  # 0 = full registry (standing since r13, directive #3)
    if "--window-only" in args:
        window = 50
        args.remove("--window-only")
    tz_full = "--tz-full" in args
    if tz_full:
        args.remove("--tz-full")
    if "--window" in args:  # explicit size still accepted
        i = args.index("--window")
        window = int(args[i + 1])
        del args[i : i + 2]
    changed = args  # new/changed window entries this round

    head = _git("rev-parse", "HEAD")
    dirty = bool(_git("status", "--porcelain"))
    py = sys.executable
    print(f"final_gate @ {head[:12]}{' (DIRTY TREE)' if dirty else ''}")
    print(f"changed entries: {changed or '(none given)'}\n")

    steps: list[tuple[str, bool, float]] = []
    steps.append(_run("check_oracle_full", [py, "tools/check_oracle.py"]))
    if changed:
        steps.append(
            _run(
                "check_oracle_vanilla_changed",
                [py, "tools/check_oracle.py", "--vanilla", *changed],
            )
        )
    dryrun_step = (
        "driver_dryrun_full_registry" if window <= 0
        else f"driver_dryrun_window_{window}"
    )
    steps.append(
        _run(dryrun_step, [py, "tools/driver_dryrun.py", str(window)])
    )
    steps.append(_run("type_audit_registry", [py, "tools/type_audit.py"]))
    if changed:
        steps.append(_run("plan_audit_changed", [py, "tools/plan_audit.py", *changed]))
    # --- shifted-TZ leg (standing since r16, r15 judge directive #5) ---
    TZ = "America/Bogota"
    DATE_PATHS = (
        "fbs_data_pipelines_spark/functions/dates.py",
        "fbs_data_pipelines_spark/operators/timeseries.py",
    )
    # the four queries the r15 Bogota sweep flagged — the fallback set
    # when the date engine moved but no entry names were passed
    TZ_CANARIES = ["ohlc", "gapfill", "trending", "audit_log"]
    touched = set(
        _git("diff", "--name-only", "HEAD~1", "HEAD").splitlines()
    ) | set(_git("diff", "--name-only", "HEAD").splitlines())
    date_engine_moved = any(p in touched for p in DATE_PATHS)
    if tz_full:
        steps.append(
            _run("check_oracle_tz_bogota_full",
                 [py, "tools/check_oracle.py"], {"TZ": TZ})
        )
    elif changed:
        steps.append(
            _run("check_oracle_tz_bogota_changed",
                 [py, "tools/check_oracle.py", *changed], {"TZ": TZ})
        )
    elif date_engine_moved:
        print(f"  [....] TZ leg: no changed entries named but "
              f"{[p for p in DATE_PATHS if p in touched]} moved vs "
              f"HEAD~1 — running the r15 canary set {TZ_CANARIES}")
        steps.append(
            _run("check_oracle_tz_bogota_canaries",
                 [py, "tools/check_oracle.py", *TZ_CANARIES], {"TZ": TZ})
        )
    else:
        print("  [skip] check_oracle_tz_bogota: no changed entries "
              "named and the date/timeseries engine paths are "
              "untouched vs HEAD~1 (pass entry names or --tz-full "
              "to force)")
    # --- local-cluster smoke (standing since r17, r16 judge
    #     directive #7): the one executed-plan axis local[32] cannot
    #     produce — SEPARATE executor JVMs with their own Python
    #     workers, so task results, broadcasts, and accumulator
    #     updates actually SERIALIZE over the wire and every pandas/
    #     UDTF kernel imports the package in a fresh executor-side
    #     process. Headliners + one canary per Python-kernel class
    #     (mapInPandas, applyInPandas, UDTF, Variant, Structured
    #     Streaming, custom DataSource, Arrow-batched BPE). ~2 min.
    LC_MASTER = "local-cluster[2,4,2048]"
    LC_SET = [
        "sessionize", "pricing_summary", "merge_upsert",
        "dedup_minhash_lsh", "ann_topk", "windowed_rollup",
        "multimodal_features", "grouped_ols", "udtf_sentences",
        "variant_json", "streaming_rollup", "csv_roundtrip",
        "bpe_encode",
    ]
    steps.append(
        _run(
            "check_oracle_local_cluster_smoke",
            [py, "tools/check_oracle.py", "--master", LC_MASTER, *LC_SET],
        )
    )
    # --- slow-suite leg (standing since r17, r16 judge directive #3:
    #     the quiet full-suite wall crossed ~20 min, so the streaming
    #     + hypothesis suites moved behind the `slow` marker for the
    #     fast loop — but they must still GATE every round; this step
    #     is that guarantee; ~4 min) -------------------------------------
    steps.append(
        _run(
            "pytest_slow_suites",
            [py, "-m", "pytest", "tests/", "-q", "-m", "slow",
             "-p", "no:cacheprovider"],
        )
    )
    steps.append(_run("ledger_check", [py, "tools/ledger_check.py", "--check"]))

    all_ok = all(ok for _, ok, _ in steps)
    total = sum(dt for _, _, dt in steps)
    print("\n===== FINAL GATE STAMP (paste into EVIDENCE) =====")
    print(f"git hash: {head}{' DIRTY — re-run after committing!' if dirty else ''}")
    print(f"dryrun scope: {'FULL REGISTRY' if window <= 0 else window}; "
          f"changed entries: {changed or 'none'}")
    for step, ok, dt in steps:
        print(f"  {step}: {'PASS' if ok else 'FAIL'} ({dt:.0f}s)")
    print(f"result: {'ALL PASS' if all_ok else 'FAILURES PRESENT'} "
          f"(total {total:.0f}s; logs in {LOG_DIR}/)")
    print("NOTE: local mimic of the driver gate — label as 'local "
          "sweep' in commits/EVIDENCE, never as driver evidence.")
    print("==================================================")
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
