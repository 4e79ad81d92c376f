#!/bin/bash
# Scaling campaign: rebuild on-disk tables at current writer layout, run
# the named stages under the de-noised protocol, regenerate BENCH.md.
# Sequential — stages share the box; parallel runs would corrupt each
# other's numbers. The 10^9-key stages (dedupxxl, dedupeng), the raw-IO
# control and the sliced crawl need a large driver heap for the one-time
# table/index builds; the rest run at 24g.
#
# Usage: bash tools/run_campaign.sh [stage ...]   (default: every stage)
#   fetch fetchlat dedup dedupscan images control dedupxl dedupxxl
#   controlio dedupeng   ScalingBench stages
#   slicedcrawl          SlicedCrawl 32: the engine crawl over 10^9 seen keys
#   e2e                  CrawlDemo 64 300 {8,32} 1000 4, three reps
#                        interleaved rep-wise across the two core counts
#   report               ScalingBench report (regenerates BENCH.md)
set -x
cd "$(dirname "$0")/.."
mem() {
  case "$1" in
    dedupxxl|dedupeng|controlio|slicedcrawl) echo 48g ;;
    *) echo 24g ;;
  esac
}
stages=${*:-fetch fetchlat dedup dedupscan images control dedupxl dedupxxl controlio dedupeng slicedcrawl e2e report}
for stage in $stages; do
  log=/tmp/campaign_$stage.log
  case "$stage" in
    slicedcrawl)
      SPARK_DRIVER_MEM=$(mem $stage) sbt -batch "runMain graft.tools.SlicedCrawl 32" > $log 2>&1
      echo "=== $stage exit=$? $(date +%H:%M:%S)"
      grep -h "SLICED_CRAWL" $log | tail -8 ;;
    e2e)
      for rep in 1 2 3; do
        for cores in 8 32; do
          echo "== rep $rep cores $cores"
          SPARK_DRIVER_MEM=$(mem $stage) sbt -batch "runMain graft.CrawlDemo 64 300 $cores 1000 4" 2>&1 \
            | grep -E "E2E|TOTAL|urls/s|DRIVER-GAP" | tail -5
        done
      done ;;
    report)
      sbt -batch "runMain graft.ScalingBench report" > $log 2>&1
      echo "=== report exit=$?" ;;
    *)
      SPARK_DRIVER_MEM=$(mem $stage) sbt -batch "runMain graft.ScalingBench $stage" > $log 2>&1
      echo "=== $stage exit=$? $(date +%H:%M:%S)"
      grep -h "SCALING_POINT" $log | tail -8 ;;
  esac
done
