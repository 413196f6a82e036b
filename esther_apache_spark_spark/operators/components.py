"""Connected components — min-label propagation on DataFrames
(engine extension; the canonicalization step a dedup pipeline runs after
candidate generation: near-dup PAIRS become duplicate CLUSTERS, and each
cluster keeps one canonical document).

No GraphX/GraphFrames dependency. Two paths, chosen by the edge count
the call takes anyway on the persisted edge frame:

- **Driver** (at most ``DRIVER_MAX_EDGES`` edges): the edges come back
  in one ``toArrow`` job, node ids are factorized with ``np.unique``
  (sorted, so the smallest index is the smallest id — Spark's order for
  numbers, and for strings too, since UTF-8 byte order is code-point
  order), and numpy hooking plus pointer jumping labels them in memory.
  The dedup graphs this package builds are small — hundreds of edges on
  the benchmark corpus, 826 at sf0.1, about 5k quotient nodes at sf10 —
  and the distributed rounds spent ~15 Spark jobs per call on them.
  This is the hybrid of Kiveris et al., *Connected Components in
  MapReduce and Beyond* (SoCC'14): distributed rounds only while the
  graph is large. Measured driver cost on cached random edges (4
  cores): 1M long-id edges take +131 MB peak RSS and 1.1 s (2M: +262 MB,
  2.0 s); 1M short string ids take +266 MB and 4.0 s. That growth is
  why the bound is 1M.
- **Distributed** (above the bound): labels live in a (node, comp)
  frame; each round every node takes the min of its own label and its
  neighbors' labels (messages flow both edge directions), hooks the
  improvement onto its previous label and pointer-jumps; convergence
  when no label changes. LSH-style dup graphs (small, dense clusters)
  converge in 2-4 rounds. The loop's joins and aggregates plan at the
  session's shuffle width.

Scale notes for the distributed path:
- Each round is one shuffle join (edges ⋈ labels) + one min-aggregate —
  both keyed on node id, co-partitionable.
- A checkpoint after every round truncates the lineage; without it the
  plan doubles per iteration and the driver, not the data, becomes the
  bottleneck. The checkpoint kind follows the SESSION: with no
  checkpoint dir it is ``localCheckpoint`` (block-manager memory —
  fast, no disk round-trip), but on local[k] the block manager IS the
  driver heap, and the r7 sf10 checkpoint OOMed an 8 GB heap on the
  survivor family's edge frames. When the context has a checkpoint dir
  (``spark.checkpoint.dir`` — on a cluster ``--conf
  spark.checkpoint.dir=...``, locally ``get_spark`` sets it from
  ``SPARK_GRAFT_CHECKPOINT_DIR``, which is how ``bench.py --sf10-cold``
  wires it) every round is a RELIABLE ``checkpoint(eager=True)`` into
  it: lineage truncates the same way, blocks live on disk instead of
  heap, and on a real cluster the dir is shared storage (HDFS/S3) so
  executor loss is also survivable mid-iteration. CC only reads the
  dir; it never sets it, so concurrent calls cannot race on it. The
  driver path checkpoints nothing.
- The convergence check rides the round's checkpoint job as an
  ``observe`` metric (count of labels the round changed — the canonical
  Pregel-style stop condition): ONE action per round, no separate
  convergence job (r11; the r10 label-sum scan cost ~80 ms × rounds ×
  every CC consumer, and its DECIMAL cast silently broke on non-numeric
  node ids — the changed-count comparison is type-agnostic).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from esther_apache_spark_spark.scope import cache_scope, cached

#: Graphs with at most this many edges are labelled in driver memory;
#: larger ones run the distributed rounds. Tests and drills set it to 0
#: to force the distributed path.
DRIVER_MAX_EDGES = 1_000_000

#: Cap on distributed propagation rounds. Hooking plus double pointer
#: jumping converges LSH dup graphs in 2-4 rounds and a 40-hop chain in
#: 4 (the last one confirming no label changed); reaching the cap with
#: labels still changing raises rather than return a non-fixpoint.
MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id of the node's connected component. Edges are
    treated as undirected; self-loops and duplicate edges are fine; an
    edge with a NULL endpoint raises ``ValueError``. Node ids may be any
    orderable type (longs, strings, ...); ``node`` and ``comp`` take the
    common type of ``src`` and ``dst``.

    Graphs of at most ``DRIVER_MAX_EDGES`` edges are labelled in driver
    memory and checkpoint nothing. Larger ones run distributed rounds
    whose per-round lineage truncation is a reliable ``checkpoint`` when
    the session's context has a checkpoint dir, else
    ``localCheckpoint`` — see the module docstring for when each wins.
    Labels are identical on every path."""
    if edges.sparkSession.sparkContext.getCheckpointDir():

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    return _cc_loop(edges, src, dst, _ckpt)


def _driver_labels(ed: DataFrame, node_type: DataType) -> DataFrame:
    """Label the (a, b) edge frame in driver memory: one ``toArrow``
    job, then hooking plus pointer jumping over factorized ids."""
    t = ed.select(F.col("a").cast(node_type), F.col("b").cast(node_type)).toArrow()
    a = t.column(0).to_numpy(zero_copy_only=False)
    b = t.column(1).to_numpy(zero_copy_only=False)
    # np.unique sorts, so the minimum index of a component is its
    # minimum node id.
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(ids))
    while True:
        # Hook every root onto the smallest label across its edges,
        # then jump pointers until each node points at its root. Labels
        # only decrease and always point at a smaller index, so this
        # stops exactly when every edge joins two equal labels.
        m = np.minimum(lab[u], lab[v])
        new = lab.copy()
        np.minimum.at(new, lab[u], m)
        np.minimum.at(new, lab[v], m)
        while not np.array_equal(jumped := new[new], new):
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    arrow_type = t.schema.field(0).type
    schema = StructType(
        [StructField("node", node_type), StructField("comp", node_type)]
    )
    return ed.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(ids, type=arrow_type),
                "comp": pa.array(ids[lab], type=arrow_type),
            }
        ),
        schema,
    )


def _cc_loop(edges, src, dst, _ckpt):
    # Materialize the (possibly expensive) edge plan ONCE — with an
    # EAGER action — before either path reads it (r11). The r10
    # persist() alone was lazy: the union-distinct checkpoint was the
    # first action, and its two legs' tasks run concurrently over the
    # same cache-in-progress, so each leg re-executed the full upstream
    # candidate pipeline (measured at sf0.1: a second full GEMM/UDF
    # pass, ~4-5 CPU-s; at 100 TB a second pass over the corpus-scale
    # candidate generation). The aggregate executes the plan exactly
    # once under normal AQE (coalesced post-shuffle partitions, runtime
    # joins), fills the cache, and every later read takes blocks; it
    # also counts NULL endpoints, which no path can label. The scope
    # releases the cache before this returns.
    with cache_scope():
        ed = cached(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
        n_ed, n_null = ed.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("a").isNull() | F.col("b").isNull()),
        ).first()
        if n_null:
            raise ValueError(
                f"connected_components: {n_null} edges have a NULL endpoint"
            )
        both = ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        if n_ed <= DRIVER_MAX_EDGES:
            return _driver_labels(ed, both.schema["a"].dataType)
        und = _ckpt(both.distinct())
    # Seed labels with the FIRST neighbor-min round fused into the node
    # scan (r10): comp₀(v) = min(v, min neighbors) is exactly what the
    # old identity-seeded loop computed in its first propagation, for
    # the price of the distinct-node aggregate the seed paid anyway —
    # one round's joins removed outright.
    labels = _ckpt(
        und.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(F.col("a").alias("node"), F.least("a", "_mb").alias("comp"))
    )
    comp_type = labels.schema["comp"].dataType
    for _ in range(MAX_ROUNDS):
        msgs = und.join(labels, und.a == labels.node).select(
            F.col("b").alias("node"), "comp",
            F.lit(None).cast(comp_type).alias("_old"),
        )
        # No per-round persists (r11): the round has exactly ONE
        # materializing job — the checkpoint below — and within that job
        # ReuseExchange deduplicates prop's and step's repeated subtrees
        # (shuffle map sides run once; broadcast builds are shared).
        # The r10 lazy persists only added block-manager writes and
        # extra jobs per round — A/B'd on the three survivor queries:
        # jobs 75/49/47 -> 61/44/42, CPU −6..13%, identical labels.
        # One aggregate yields both the neighbor-min comp AND the
        # node's previous label (min over the single tagged labels row
        # — every und node has a labels row, so _old is never NULL
        # after the aggregate).
        prop = (
            msgs.union(
                labels.select("node", "comp", F.col("comp").alias("_old"))
            )
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("_old").alias("_old"))
        )
        # HOOK (Shiloach–Vishkin, r10): each node reports its improved
        # minimum back to its PREVIOUS label ("parent"), so the round's
        # best minimum re-attaches at the top of every label tree instead
        # of crawling outward one neighbor hop per round. On the real
        # semantic survivor graph at sf0.1 this alone cut 9 rounds to 4
        # (measured by replaying the exact rep-pair edge set); pure
        # pointer jumping cut nothing there because the min-label
        # wavefront, not pointer-chain depth, was the binding distance.
        hooks = prop.groupBy(F.col("_old").alias("node")).agg(
            F.min("comp").alias("_hc")
        )
        hooked = (
            prop.join(hooks, "node", "left")
            .select(
                "node",
                F.least("comp", F.coalesce("_hc", "comp")).alias("comp"),
                "_old",
            )
        )
        # Pointer jumping: comp ← comp(comp(node)), applied TWICE per
        # round. Chains/trees converge in O(log₄) rounds; comp is
        # always a node id present in the label frame, so the
        # self-joins always match.
        jump = hooked.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        step = (
            hooked.join(jump, hooked.comp == jump._jn)
            .select(
                hooked.node,
                F.least(hooked.comp, jump._jc).alias("comp"),
                hooked._old,
            )
        )
        jump2 = step.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        # Convergence rides the checkpoint job (r11): labels only
        # ever DECREASE pointwise over a fixed node set, so the
        # round is the fixpoint iff it changed no label. The
        # changed-count is an observe() metric on the exact frame
        # being checkpointed — zero extra actions, works for any
        # id type (no numeric cast), and a NULL comparison (never
        # expected — see prop) conservatively counts as changed.
        obs = Observation()
        new_full = _ckpt(
            step.join(jump2, step.comp == jump2._jn)
            .select(
                step.node,
                F.least(step.comp, jump2._jc).alias("comp"),
                step._old,
            )
            .observe(
                obs,
                F.sum(
                    F.coalesce(
                        (F.col("comp") != F.col("_old")).cast("long"),
                        F.lit(1),
                    )
                ).alias("chg"),
            )
        )
        labels = new_full.select("node", "comp")
        if not obs.get["chg"]:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ROUNDS} rounds"
    )
