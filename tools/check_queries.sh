#!/usr/bin/env bash
# Validate a subset of SparkEntry queries against the DuckDB oracle at
# every test scale, exactly the way the driver's hash gate does:
#
#   tools/check_queries.sh q1 q2 ...          # all three scales
#   SCALES="sf0.01" tools/check_queries.sh q1 # one scale
#
# Dumps each query with graft.Verify, prunes oracle_sql.json to the
# requested names (check_oracle.py iterates every oracle entry and
# errors on missing dumps; the full DuckDB pass is also slow), then
# runs the --exact string compare. Exits non-zero on the first
# non-green scale. Each scale's dump directory is removed once that
# scale is green; a failing scale's directory is kept for inspection.
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 1 ] || { echo "usage: $0 <query> [query ...]" >&2; exit 2; }
queries=("$@")
out=""
trap '[ ! -d "$out" ] || echo "not green: dump kept in $out" >&2' EXIT
for sf in ${SCALES:-sf0.001 sf0.01 sf0.1}; do
  out="/tmp/graft_check_${sf}_$$"
  rm -rf "$out"
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out ${queries[*]}" >/dev/null
  python3 - "$out" "${queries[@]}" <<'EOF'
import json, sys
p = f"{sys.argv[1]}/oracle_sql.json"
keep = set(sys.argv[2:])
d = json.load(open(p))
json.dump({k: v for k, v in d.items() if k in keep}, open(p, "w"))
EOF
  echo "== $sf =="
  python3 tools/check_oracle.py --exact "/root/testdata/$sf" "$out"
  rm -rf "$out"
  out=""
done
