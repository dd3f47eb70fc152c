#!/usr/bin/env bash
# Full local gate: unit suite, tri-scale oracles, bench + regression
# gate, and the spark-submit pipeline surface. Mirrors what the driver
# and judge check each round. Usage: bash tools/smoke.sh [quick]
set -euo pipefail
cd "$(dirname "$0")/.."

python -m pytest tests/ -q

python tools/check_oracles.py                         # sf0.01 (driver SF)
if [ "${1:-}" != "quick" ]; then
  SF_DIR=/root/testdata/sf0.001 python tools/check_oracles.py
  SF_DIR=/root/testdata/sf0.1  python tools/check_oracles.py
fi

# end-to-end benchmark workloads: each fails unless its outputs match
# the independent reference ("correct": true on the result line).
# slices_resume covers the text adapter and a line-format writer,
# tokens_bulk the tokens adapter and the parquet writer.
for w in slices_resume tokens_bulk; do
  python perfbench/run.py --workload "$w" --seed 1 --seconds 20 \
    | tail -1 | tee "/tmp/smoke_perfbench_$w.json"
  grep -q '"correct": true' "/tmp/smoke_perfbench_$w.json"
done

python bench.py | tail -1 > /tmp/smoke_bench.json
python tools/bench_compare.py /tmp/smoke_bench.json   # fails on >1.5x regression

zip -qr /tmp/smoke_engine.zip fluent_bit_spark -x "*__pycache__*"
rm -rf /tmp/smoke_out /tmp/smoke_pack
# slices are cut per input file: a two-file table gives the pipeline
# job two slices; the pack jobs read the one-file table
python -c 'import os
from fluent_bit_spark import fixtures as fx
if not os.path.exists(".data/tokens_small.parquet"):
    fx.generate_tokens_table(".data/tokens_small.parquet", 20000)
fx.generate_tokens_table(".data/tokens_small_2f", 20000, n_files=2)'
# the second run resumes: it must skip every committed slice, and
# neither run may leave a stage behind
for run in first resume; do
  spark-submit --master 'local[8]' --py-files /tmp/smoke_engine.zip \
    jobs/run_pipeline.py --input .data/tokens_small_2f \
    --output /tmp/smoke_out --slices 2 | tail -1 \
    | tee "/tmp/smoke_pipeline_$run.json"
  test ! -e /tmp/smoke_out/_stage
done
python -c 'import json; s = json.load(open("/tmp/smoke_pipeline_resume.json"))
raise SystemExit(s["slices_skipped"] != s["slices_total"] or
                 s["slices_total"] != 2)'
spark-submit --master 'local[8]' --py-files /tmp/smoke_engine.zip \
  jobs/run_pack.py --input .data/tokens_small.parquet \
  --output /tmp/smoke_pack --ctx 256 | tail -1   # exits 2 on token loss

# r5-s2 job surface: denoising objectives, with its own exact
# conservation exit code
rm -rf /tmp/smoke_fim
spark-submit --master 'local[8]' --py-files /tmp/smoke_engine.zip \
  jobs/run_pack.py --input .data/tokens_small.parquet \
  --output /tmp/smoke_fim --mode fim | tail -1      # exits 2 on sentinel loss

if [ "${1:-}" != "quick" ]; then
  # Volume-shape gates (VERDICT r3 #3): token/line conservation plus
  # shuffle-byte linearity across a 4x size step — a regression in the
  # distributed prefix sum or the line reassembly fails the round gate
  # here, not just in a doc table. Bytes, not walls: deterministic on a
  # co-tenant guest.
  python tools/bench_pack.py  --sizes 200000,800000 --ctx 256 \
    --out /tmp/smoke_pack_vol  --gate | tail -1
  python tools/bench_clean.py --sizes 150000,600000 \
    --out /tmp/smoke_clean_vol --gate | tail -1
  python tools/bench_surprisal.py --sizes 200000,800000 \
    --out /tmp/smoke_surp_vol --gate | tail -1   # model must stay vocab-bounded
  python tools/bench_tfidf.py --sizes 200000,800000 \
    --out /tmp/smoke_tfidf_vol --gate | tail -1  # df table must stay vocab-bounded
  python tools/bench_substring.py --sizes 100000,400000 \
    --out /tmp/smoke_substr_vol --gate | tail -1 # planted-truth removal exact
  python tools/bench_dataloader.py --sizes 400000,1600000 \
    | tail -1 # exits 1 unless fim shuffle stays flat, bucket/KN
              # shuffle stay linear, and the conservation/coverage
              # invariants hold exactly (sizes sit above the AQE
              # broadcast->shuffle transition — NOTES #31)
fi
echo "SMOKE OK"
