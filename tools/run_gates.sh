#!/bin/bash
# Decade-gate refresh for one round: regenerate the 10x and 100x
# correctness artifacts on the current build, sequentially (engine
# shuffle scratch and the DuckDB oracle's temp spill cannot share the
# disk at 100x).
#
#   GATE_TREE=/tmp/gate<round> tools/run_gates.sh <round>
#
# Runs from a compiled copy of the tree (GATE_TREE, default
# /tmp/gate<round>; `sbt -batch Test/compile` there first) so compiles
# in the working tree never swap classes under the gate JVMs. The
# synthetic fixtures are reused when present (the generators are
# deterministic) and generated otherwise.
#
# Steps: fixtures -> 10x dump + full DuckDB gate -> 100x dump (oracle,
# no-oracle and selfcheck keys) -> second independent-JVM dump of the
# selfcheck keys -> full 100x DuckDB diff (~75 min, ~40 GB temp spill)
# -> selfcheck merge. gate_10x/gate_100x write CORRECTNESS_10x.json /
# CORRECTNESS_100x.json into $GATE_TREE — copy them back and commit.
set -eu
ROUND="${1:?usage: run_gates.sh <round>}"
GATE_TREE="${GATE_TREE:-/tmp/gate$ROUND}"
cd "$GATE_TREE"

# the Spark jars directory the build links against (build.sbt)
SPARK_JARS="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)}"
CP="target/scala-2.13/classes:src/main/resources:target/scala-2.13/test-classes:$SPARK_JARS/*"
V10="/tmp/v10x_r$ROUND"
V100="/tmp/v100x_r$ROUND"

echo "=== [0/6] fixtures (gen10, gen100; reused when present) ==="
[ -d /tmp/graft_sfsyn_v2_10 ]  || java -cp "$CP" graft.ScaleProbeSf1 gen10  2>/dev/null | grep SYNDIR10
[ -d /tmp/graft_sfsyn_v2_100 ] || java -cp "$CP" graft.ScaleProbeSf1 gen100 2>/dev/null | grep SYNDIR100

NO_ORACLE="q_agg_approx_hll q_agg_approx_quantile q_agg_approx_topk q_dedup_minhash q_dedup_simhash"
SELFCHECK="q_dedup_semantic q_dedup_semantic_t9 q_dedup_components q_dedup_embed_lsh q_dedup_embed_lsh_t9"

echo "=== [1/6] 10x dump (all keys) ==="
SPARK_GRAFT_CPUS=16 tools/run_direct.sh verify /tmp/graft_sfsyn_v2_10 "$V10"

echo "=== [2/6] 10x gate (full DuckDB diff) ==="
python3 tools/gate_10x.py /tmp/graft_sfsyn_v2_10 "$V10" "$ROUND"

ORACLE_KEYS=$(V10="$V10" python3 - <<'PYEOF'
import json, os
oracle = set(json.load(open(os.path.join(os.environ['V10'], 'oracle_sql.json'))))
skip = {'q_dedup_semantic', 'q_dedup_semantic_t9', 'q_dedup_components',
        'q_dedup_embed_lsh', 'q_dedup_embed_lsh_t9',
        'q_dedup_embed', 'q_sim_cosine_topk', 'q_sim_knn_label'}
print(' '.join(sorted(oracle - skip)))
PYEOF
)

echo "=== [3/6] 100x engine dump (oracle + no-oracle + selfcheck keys) ==="
SPARK_GRAFT_CPUS=16 tools/run_direct.sh verify /tmp/graft_sfsyn_v2_100 "$V100" \
  $ORACLE_KEYS $NO_ORACLE $SELFCHECK

echo "=== [4/6] second independent JVM: selfcheck keys ==="
SPARK_GRAFT_CPUS=16 tools/run_direct.sh verify /tmp/graft_sfsyn_v2_100 "${V100}_b" \
  $SELFCHECK

echo "=== [5/6] 100x gate (FULL fresh DuckDB diff; ~75 min, ~40 GB temp spill) ==="
python3 tools/gate_100x.py /tmp/graft_sfsyn_v2_100 "$V100" "$ROUND" \
  $ORACLE_KEYS \
  --excluded \
  "q_dedup_semantic=DuckDB oracle infeasible at 100x: the sqrt(n)-cell kmeans+pair SQL spills >70 GB temp and dies on disk (engine side completes in ~6 min); covered by the cross-JVM selfcheck section below and exact under the full 10x gate" \
  "q_dedup_semantic_t9=same oracle SQL as q_dedup_semantic at tau=0.9 - same 100x spill death; engine side serves the persisted pair artifact; covered by the selfcheck, exact under the 10x gate and SemanticIndexSpec's clustered-fixture recall pin" \
  "q_dedup_components=DuckDB oracle OOM at 100x even running alone (Out of Memory: 100.6 GiB used): the recursive transitive-closure CTE expands paths, not frontiers; engine side (per-round min-collapse) completes; covered by the selfcheck, exact under the 10x gate" \
  "q_dedup_embed_lsh=oracle-side infeasible at 100x: the DuckDB SQL expresses Hamming<=1 as an unbucketed band self-join (bit_count(xor)<=1) - 8 bands x ~2e10 pair predicates at 200k vectors. Engine side completes (314 s, r9 band batching); DECLARED the bounded-n tau=0.5 recall baseline in r10 (SCALING round-10: sign-LSH's rho(0.5)=0.585 lower-bounds constant-recall work at n^1.585); covered by the selfcheck, exact under the 10x gate" \
  "q_dedup_embed_lsh_t9=oracle-side infeasible at 100x: same unbucketed Hamming band self-join, 4 bands x ~2e10 pair predicates; engine side measured exponent 1.01 at 100x; covered by the selfcheck, exact under the 10x gate (490k pairs on the clustered fixture)" \
  "q_dedup_embed=declared all-pairs ground-truth baseline: O(n^2) by semantics in BOTH engines (4e10 pairs x 64-dim dot at 200k vectors) - not run on either side; registered scale paths are the LSH/semantic siblings, gated or selfchecked here; exact under the 10x gate" \
  "q_sim_cosine_topk=declared brute-force ground-truth baseline: O(n^2) by semantics in both engines at the third decade - not run on either side; scale paths q_sim_ann_{lsh,ivf,pq} are gated here; exact under the 10x gate" \
  "q_sim_knn_label=consumer of the brute-force top-k neighbor producer, O(n^2) by semantics at the third decade - not run on either side; its mechanism is exact under the 10x gate and the ANN siblings cover the scale path"

echo "=== [6/6] selfcheck merge (dump A vs dump B, independent JVMs) ==="
python3 tools/gate_100x_selfcheck.py "$V100" "${V100}_b" "$ROUND" $SELFCHECK

echo "=== all round-$ROUND gates done ==="
