#!/usr/bin/env bash
# Run the `full`-marked streaming subset (streaming, schema evolution,
# composed stream, stream nulls, plus the `full`-marked dedup, ANN and
# stream-ingest tests of test_sketches.py and test_pipeline.py;
# SPARK_GRAFT_FULL_TESTS=1 enables the marked tests) and save the tail of
# the pytest output to <out>, headed by the commit, the git tree ids of
# the package and the tests as they were when the run started, the date
# and the command. Exits with pytest's status. The tree ids name the
# tested code also when it is not committed yet: `git rev-parse
# <commit>:scylla_cdc_java_spark` (and `:tests`) prints the same ids for a
# commit that holds exactly that code.
#
#   tools/full_tests.sh plans/r13/full_tests.txt     # ~12-15 min on 4 cores
set -u -o pipefail

out=$(realpath -m "${1:?usage: tools/full_tests.sh <out>}")
repo=$(cd "$(dirname "$0")/.." && pwd)
tests="tests/test_streaming.py tests/test_evolution.py tests/test_composed_stream.py tests/test_stream_nulls.py
tests/test_sketches.py::TestSimhashExpr::test_stream_simhash_dedup
tests/test_sketches.py::TestStreamIncrementalDedup::test_admission_across_batches
tests/test_sketches.py::TestStreamShortDocAdmission::test_short_exact_dups_rejected_on_replay_and_within_batch
tests/test_sketches.py::TestStreamSignatureStore::test_signature_store_grows_with_index
tests/test_pipeline.py::test_ivf_agrees_with_bruteforce_on_probed_buckets
tests/test_pipeline.py::test_sharded_gemm_pairs_exactly_once
tests/test_pipeline.py::test_stream_exact_dedup
tests/test_pipeline.py::test_screen_embeddings_enforced_in_every_ann_tier
tests/test_pipeline.py::test_stream_tumbling_late_data_boundary"
cmd="SPARK_GRAFT_FULL_TESTS=1 python -m pytest -q -p no:cacheprovider ${tests//$'\n'/ }"
log=$(mktemp)
idx=$(mktemp)
trap 'rm -f "$log" "$idx"' EXIT

cd "$repo"
# tree ids of the working tree's package and tests, through a scratch index
cp "$(git rev-parse --git-dir)/index" "$idx"
GIT_INDEX_FILE=$idx git add -A scylla_cdc_java_spark tests
tree=$(GIT_INDEX_FILE=$idx git write-tree)
trees="scylla_cdc_java_spark $(git rev-parse "$tree:scylla_cdc_java_spark"), tests $(git rev-parse "$tree:tests")"

# shellcheck disable=SC2086
SPARK_GRAFT_FULL_TESTS=1 PYTHONPATH="$repo" python -m pytest -q -p no:cacheprovider $tests \
  >"$log" 2>&1
status=$?

mkdir -p "$(dirname "$out")"
{
  echo "commit: $(git rev-parse --short HEAD)$(git diff --quiet HEAD -- . ':!plans' || echo ' + uncommitted changes')"
  echo "trees:  $trees"
  echo "date:   $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "cmd:    $cmd"
  echo "exit:   $status"
  echo
  tail -n 40 "$log"
} >"$out"
exit $status
