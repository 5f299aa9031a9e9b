#!/usr/bin/env bash
# The DuckDB-oracle gate on both kernel routes in one command: graft.Verify
# over <sfdir> with spark.graft.localKernel.enabled=true (the local kernels
# and IvfSearchExec), then =false (the distributed plans), each dump checked
# by tools/check_oracle.py. Exits non-zero when a Verify run or a check
# fails.
#
#   tools/verify_both_routes.sh <sfdir> <outdir>
#
# Writes <outdir>/on and <outdir>/off (the Verify dumps), <route>.log (the
# sbt output) and <route>.oracle (the check's report). Run from anywhere;
# sbt runs in the repository root with the caller's SBT_OPTS.
set -u
if [ $# -ne 2 ]; then
  echo "usage: $0 <sfdir> <outdir>" >&2
  exit 2
fi
sfdir=$(realpath -m "$1")
out=$(realpath -m "$2")
cd "$(dirname "$0")/.."
mkdir -p "$out"
status=0
for route in on off; do
  if [ "$route" = on ]; then enabled=true; else enabled=false; fi
  rm -rf "${out:?}/$route"
  echo "== spark.graft.localKernel.enabled=$enabled"
  if ! sbt --batch -Dsbt.log.noformat=true \
      "set run / javaOptions += \"-Dspark.graft.localKernel.enabled=$enabled\"" \
      "runMain graft.Verify $sfdir $out/$route" > "$out/$route.log" 2>&1; then
    echo "[FAIL] graft.Verify with the local kernels $route: see $out/$route.log"
    status=1
  fi
  python3 tools/check_oracle.py "$sfdir" "$out/$route" > "$out/$route.oracle" 2>&1 || status=1
  grep -v '^\[OK\]' "$out/$route.oracle"
  echo "$(grep -c '^\[OK\]' "$out/$route.oracle") oracle-backed queries hash-match" \
    "(local kernels $route)"
done
exit $status
