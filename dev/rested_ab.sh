#!/usr/bin/env bash
# Rested A/B protocol (NEXT.md thermal rules): idle-cool the box, then
# run the full Bench suite at two driver heaps plus a contemporaneous
# DuckDB pass, writing raw artifacts to dev/bench_artifacts/.
#
# Usage: dev/rested_ab.sh <tag> <oracleDir>   (oracleDir must hold
#        oracle_sql.json from a Verify run)
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="${1:?tag}"
ORACLE="${2:?oracle dir with oracle_sql.json}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
REST="${REST_SECONDS:-240}"
OUT=dev/bench_artifacts

for mem in 32g 16g; do
  echo "[ab] resting ${REST}s before ${mem} run"
  sleep "$REST"
  SPARK_DRIVER_MEM=$mem SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_REPS=2 \
    SPARK_GRAFT_BENCH_OUT=$OUT/${TAG}_spark_${mem}.json \
    sbt -batch "runMain graft.Bench" > /tmp/${TAG}_${mem}.log 2>&1
  python3 - <<EOF
import json
d = json.load(open("$OUT/${TAG}_spark_${mem}.json"))
print(f"[ab] ${mem}: total {d['value']} s over {len(d['queries'])} queries")
EOF
done

echo "[ab] resting ${REST}s before DuckDB run"
sleep "$REST"
python3 dev/duck_bench.py "$SF" "$ORACLE" 2 > $OUT/${TAG}_duck_reps2.json

# Canonical pair artifact (r10 protocol): the duck leg lands at a fixed
# path that graft.Bench reads on its NEXT run, embedding
# {spark_total, duck_total, ratio} into bench_out.json / the stdout
# line — the gate ratio always rides a contemporaneous pair, never a
# cross-day DuckDB number. The tag records provenance.
python3 - <<EOF
import json
d = json.load(open("$OUT/${TAG}_duck_reps2.json"))
d["tag"] = "${TAG}_duck_reps2"
d["sf"] = "$SF"
with open("$OUT/latest_pair.json.tmp", "w") as f:
    json.dump(d, f)
import os
os.replace("$OUT/latest_pair.json.tmp", "$OUT/latest_pair.json")
s = json.load(open("$OUT/${TAG}_spark_32g.json"))
common = set(d["queries"]) & set(s["queries"])
ds = sum(d["queries"][q] for q in common)
ss = sum(s["queries"][q] for q in common)
wins = sum(1 for q in common if s["queries"][q] < d["queries"][q])
print(f"[ab] duck: total {d['total']} s over {len(d['queries'])} queries")
print(f"[ab] PAIR (32g vs duck, {len(common)} aligned): "
      f"spark {ss:.1f} s, duck {ds:.1f} s, ratio {ss/ds:.3f}x, "
      f"{wins} spark wins")
EOF
echo "[ab] done — artifacts under $OUT/${TAG}_*; pair at $OUT/latest_pair.json"
