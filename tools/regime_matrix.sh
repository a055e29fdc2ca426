#!/usr/bin/env bash
# Checks a set of oracle queries in several conf cells, so every physical
# regime is held to the same DuckDB oracle, not only the one the test data
# happens to pick.
#
# Usage: tools/regime_matrix.sh <sfDir> <nameRegex> [cell...]
#
# Each cell is a SPARK_GRAFT_CONF string ("k=v;k2=v2") that graft.Verify
# applies to its session; an empty string is the default confs, and no
# cells at all means that one cell. For each cell the script dumps the
# queries whose names match <nameRegex> with graft.Verify, then compares
# them with tools/check_oracle.py. It prints one summary line per cell and
# exits non-zero if any cell failed. Example, broadcast vs shuffle regimes:
#
#   tools/regime_matrix.sh /data/sf0.01 'interval_join_.*' '' \
#     'spark.graft.rangejoin.maxBroadcastBytes=0'
#
# Run from the repository root after `sbt compile`; VERIFY_OUT (default
# target/regime_matrix) holds each cell's dump and log.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <sfDir> <nameRegex> [cell...]" >&2
  exit 2
fi
sf_dir=$1
regex=$2
shift 2
[ $# -eq 0 ] && set -- ""
out_root=${VERIFY_OUT:-target/regime_matrix}
mkdir -p "$out_root"

status=0
i=0
for cell in "$@"; do
  i=$((i + 1))
  out="$out_root/cell$i"
  rm -rf "$out"
  log="$out_root/cell$i.log"
  SPARK_GRAFT_CONF="$cell" sbt --batch -Dsbt.log.noformat=true \
    "runMain graft.Verify $sf_dir $out $regex" >"$log" 2>&1
  failed_runs=$(grep -c '^\[verify\] .* failed:' "$log")
  python3 tools/check_oracle.py "$sf_dir" "$out" "$regex" >>"$log" 2>&1
  oracle=$?
  summary=$(grep '^== ' "$log" | tail -1)
  if [ "$oracle" -ne 0 ] || [ "$failed_runs" -ne 0 ]; then status=1; fi
  echo "cell $i [${cell:-default confs}]: $summary, $failed_runs query runs failed (log: $log)"
done
exit $status
