#!/bin/bash
# Fresh-JVM subset timing: runs graft.Bench in a new JVM (run/fork := true)
# restricted to the given queries via SPARK_GRAFT_ONLY. This is the only
# fresh-JVM subset timing; Bench itself times in-suite and forks nothing.
# Each row is the query's warmed second run in that JVM (before Bench was
# cut down, ONLY-runs reported min(2nd, 3rd)).
# Usage: scripts/ab.sh <comma-separated-query-names> [sf-dir]
# Prints the contract JSON line (the subset's per-query seconds).
# SPARK_GRAFT_CPUS defaults to this host's core count.
set -u
cd "$(dirname "$0")/.."
SPARK_GRAFT_ONLY="$1" \
SPARK_GRAFT_SF_DIR="${2:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
sbt -batch "runMain graft.Bench" 2>/dev/null | grep '^{"metric"' | tail -1
