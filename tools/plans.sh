#!/bin/bash
# Regenerate PLANS.md — formatted physical plans for the headline queries.
#   bash tools/plans.sh [sf_dir]
# For before/after plan evidence of NAMED queries, run PlanDump's
# named-query mode, which writes plans/<tag>/<query>_<suffix>.txt:
#   sbt -batch "runMain graft.tools.PlanDump <tag> <suffix> <query>..."
# e.g. sbt -batch "runMain graft.tools.PlanDump r17 before q1_agg q59_gap_fill"
set -e
cd /root/repo
SPARK_GRAFT_SF_DIR=${1:-/root/testdata/sf0.001} \
  sbt -batch "runMain graft.tools.PlanDump" 2>&1 | grep -E "wrote|error" | tail -3
