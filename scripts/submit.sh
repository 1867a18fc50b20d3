#!/usr/bin/env bash
# Package the engine and launch the extraction job via spark-submit.
# Locally this runs local[k], k = SPARK_GRAFT_CPUS or the core count
# (nproc); on a cluster, drop --local-cores and set
# --master/--deploy-mode/--num-executors as usual — nothing in the job code
# assumes local mode.
set -euo pipefail
cd "$(dirname "$0")/.."

rm -f /tmp/pdf_parser_spark.zip
zip -qr /tmp/pdf_parser_spark.zip pdf_parser_spark -x '*__pycache__*'

INPUT=${1:-.cache/submit_demo_corpus.parquet}
OUTPUT=${2:-/tmp/extraction_out}
JOB_ID=${3:-submit-$(date +%s)}

# No input given and the demo corpus is absent -> generate it (seeded).
if [[ "$INPUT" == .cache/submit_demo_corpus.parquet && ! -e "$INPUT/_SUCCESS" && ! -e "$INPUT" ]]; then
  python - <<'PYEOF'
from pdf_parser_spark import corpus
corpus.write_corpus_parquet(".cache/submit_demo_corpus.parquet", 500)
PYEOF
fi

spark-submit \
  --py-files /tmp/pdf_parser_spark.zip \
  --conf spark.sql.shuffle.partitions=64 \
  jobs/run_extraction.py \
  --input "$INPUT" --output "$OUTPUT" --job-id "$JOB_ID" \
  --buckets 64 --local-cores "${SPARK_GRAFT_CPUS:-$(nproc)}"
