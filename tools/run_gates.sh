#!/usr/bin/env bash
# Gate sequence, fail-fast: every check in the order that fails fastest.
# See .claude/skills/verify for what each gate catches. Streaming
# checkpoint-restart tests run in a serialized second stage (their own
# process, nothing else competing for the JVM).
#
# The run is bound to one git HEAD: GATES.json (the HEAD, the dirty-file
# count at start and the green gates) is written only if HEAD never moved
# mid-run, so a "gates green" record cannot drift from the commit it
# describes.
set -euo pipefail
cd "$(dirname "$0")/.."

HEAD_START="$(git rev-parse HEAD)"
DIRTY="$(git status --porcelain | wc -l)"
declare -a GATE_NAMES=()

record() {
  GATE_NAMES+=("$1")
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

echo "== strict oracle sweep (Spark vs DuckDB, driver-faithful, scratch cwd) =="
python tools/check_strict.py
record check_strict

echo "== sink partition invariance (local[7]: the foreachBatch sinks at the session's shuffle partitions; cdc_apply_stateful drains through a memory sink pinned to 2 partitions, so its state partitions do not vary) =="
SPARK_GRAFT_CPUS=7 python tools/check_strict.py cdc_apply_stream cdc_scd2_stream cdc_apply_stateful
record sink_partition_invariance_local7

echo "== headline bench =="
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" python bench.py
record bench

HEAD_END="$(git rev-parse HEAD)"
if [ "${HEAD_START}" != "${HEAD_END}" ]; then
  echo "HEAD moved during the gate run (${HEAD_START} -> ${HEAD_END});" \
       "refusing to write GATES.json — re-run at a fixed HEAD" >&2
  exit 1
fi

python - "$HEAD_START" "$DIRTY" "${GATE_NAMES[@]}" <<'EOF'
import json, sys, time
head, dirty, *names = sys.argv[1:]
out = {
    "head": head,
    "dirty_files_at_start": int(dirty),
    "finished_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    "gates_green_at_head": names,
}
with open("GATES.json", "w") as f:
    json.dump(out, f, indent=1)
    f.write("\n")
print(f"wrote GATES.json (all gates green at {head})")
EOF

echo "ALL GATES GREEN"
