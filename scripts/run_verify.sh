#!/bin/bash
# Dev harness: run graft.Verify against a testdata dir without sbt startup
# cost. Usage: scripts/run_verify.sh [sfdir] [outdir] [query,filter]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
exec scripts/run_main.sh Verify "$SF" "$OUT" ${3:+"$3"}
