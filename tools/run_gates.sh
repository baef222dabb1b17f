#!/usr/bin/env bash
# Round-end gate sequence — every check the driver (or the judge) will
# run, in the order that fails fastest. See .claude/skills/verify for
# what each gate catches. Streaming checkpoint-restart tests run in a
# serialized second stage (their own process, nothing else competing
# for the JVM) — round-7 verdict item 2.
#
# r14 (verdict item 7): the run is BOUND to a git HEAD mechanically.
# Every gate records the HEAD it ran under; the closing artifact
# GATES_r${ROUND}.json is only written if HEAD never changed mid-run,
# and prebench.py --require-gates refuses to produce the round-end
# bench artifact unless that file exists and matches the current HEAD —
# so a "gates green" claim can no longer drift from the commit it
# describes (the r13 regression shipped exactly that way).
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${ROUND:-14}"
HEAD_START="$(git rev-parse HEAD)"
DIRTY="$(git status --porcelain | wc -l)"
declare -a GATE_NAMES=() GATE_HEADS=()

record() {
  GATE_NAMES+=("$1")
  GATE_HEADS+=("$(git rev-parse HEAD)")
}

echo "== gates @ ${HEAD_START} (dirty files: ${DIRTY}) =="

echo "== pytest (main suite) =="
python -m pytest tests/ -q -m "not serial"
record pytest_main

echo "== pytest (serialized checkpoint-restart stage) =="
python -m pytest tests/ -q -m serial -p no:cacheprovider
record pytest_serial

echo "== replbench smoke (metric contract + replica correctness gate) =="
SMOKE_LOG="$(mktemp)"
python3 replbench/run.py --smoke | tee "${SMOKE_LOG}"
# the gate must trip on the 1 us change alone, so the corrupted copy has
# to read back with the expected row count
python3 - "${SMOKE_LOG}" <<'PY'
import re, sys
line = next((x for x in open(sys.argv[1]) if " moved by 1 us: " in x), "")
m = re.search(r"replica \[\((\d+), -?\d+\)\] vs expected \((\d+), -?\d+\)", line)
if not m or m[1] != m[2]:
    sys.exit(f"smoke: corrupted replica row count != expected row count: {line!r}")
print(f"smoke: corrupted replica rows {m[1]} == expected rows {m[2]}")
PY
rm -f "${SMOKE_LOG}"
record replbench_smoke

echo "== plan lint (scale-killer hunt, all registered queries) =="
python tools/plan_lint.py
record plan_lint

echo "== strict oracle sweep (Spark vs DuckDB, driver-faithful) =="
python tools/check_strict.py
record check_strict

echo "== sink partition invariance (local[7]: the streaming sinks at the session's shuffle partitions) =="
SPARK_GRAFT_CPUS=7 python tools/check_strict.py cdc_apply_stream cdc_scd2_stream cdc_apply_stateful
record sink_partition_invariance_local7

echo "== driver window simulation (plain session, scratch cwd) =="
python tools/driver_sim.py --window
record driver_sim_window

echo "== headline bench =="
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" python bench.py
record bench

HEAD_END="$(git rev-parse HEAD)"
if [ "${HEAD_START}" != "${HEAD_END}" ]; then
  echo "HEAD moved during the gate run (${HEAD_START} -> ${HEAD_END});" \
       "refusing to write GATES_r${ROUND}.json — re-run at a fixed HEAD" >&2
  exit 1
fi

python - "$ROUND" "$HEAD_START" "$DIRTY" "${GATE_NAMES[@]}" <<'EOF'
import json, sys, time
rnd, head, dirty, *names = sys.argv[1:]
out = {
    "round": int(rnd),
    "head": head,
    "dirty_files_at_start": int(dirty),
    "finished_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    "gates_green_at_head": names,
}
path = f"GATES_r{rnd}.json"
with open(path, "w") as f:
    json.dump(out, f, indent=1)
    f.write("\n")
print(f"wrote {path} (all gates green at {head})")
EOF

echo "ALL GATES GREEN"
