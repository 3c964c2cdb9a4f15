package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the graph core
  * of dedup resolution ([[Dedup.resolveDuplicates]]), exposed as its own
  * operator: every vertex maps to the smallest vertex id reachable from
  * it (the component's canonical label).
  *
  * Graph-contraction algorithm, chosen over per-round label propagation
  * (O(diameter) full-edge-list joins) and over large-star/small-star
  * (two edge-list passes per round):
  *
  *   1. hook: `parent(v) = min(v, min neighbor)` — one aggregate over
  *      the (undirected view of the) edge list;
  *   2. pointer-jump `p := p(p)` until the parent forest is
  *      root-compressed — self-joins of the LABEL-SPACE table (≤ one
  *      row per active vertex, not per edge), depth halving each jump;
  *   3. contract: rewrite labels and edges through the root mapping,
  *      dropping intra-tree edges; surviving cross-tree edges carry the
  *      merge information into the next round.
  *
  * The full edge list is touched only while cross-tree edges remain and
  * shrinks geometrically — dense near-dup cliques collapse in round 1,
  * so the big list is usually scanned once. O(log n) rounds worst case
  * (`maxIter` is a backstop). `localCheckpoint` truncates lineage
  * between rounds; the label-space joins carry explicit broadcast hints
  * because checkpointed RDDs have no stats for Catalyst (AQE would
  * shuffle the full edge volume against a table thousands of times
  * smaller) — at a scale where the ACTIVE-label table itself outgrows
  * broadcast, drop the hints and the same plan degrades to shuffle
  * joins gracefully.
  */
object Graph {

  /** Test-visible instrumentation: whether the most recent
    * [[connectedComponents]] call on this thread took the bounded
    * driver-finish branch. Lets the spec PROVE the `localFinishEdges=0`
    * run exercised the pure distributed loop (equal labels alone can't
    * tell which path produced them). */
  private[graft] val lastCallUsedDriverFinish: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Collect the RDDs backing a (possibly projected) checkpointed DF. */
  private def backingRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Driver union-find over a collected edge array: root = component
    * min, by always attaching the larger root under the smaller (the
    * invariant "every root is its tree's min" is preserved by each
    * union). Path-halving keeps it near-linear. */
  private def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    ids.iterator.map(v => v -> find(v)).toMap
  }

  /** @param vertices one column, the vertex id (name taken from the DF)
    * @param edges    two columns (src, dst by position), undirected
    * @param localFinishEdges once the live cross-tree edge list fits
    *   under this bound, finish with a driver union-find instead of more
    *   distributed rounds — each round is a shuffle + checkpoint
    *   round-trip, and the contraction step shrinks the edge list
    *   geometrically, so the tail of the iteration is all scheduling
    *   overhead over a tiny graph. The bound is on EDGES COLLECTED
    *   (16 bytes each; the default is ~32 MB of driver heap), not on
    *   corpus size: at 100 TB the early rounds stay fully distributed
    *   and only the contracted residual ever travels. Set 0 to force
    *   the pure distributed loop.
    * @return (id, label) — label = min vertex id of the component */
  def connectedComponents(vertices: DataFrame, edges0: DataFrame,
      maxIter: Int = 20, localFinishEdges: Long = 2000000L): DataFrame = {
    // Every localCheckpoint pins an RDD in executor memory until the
    // session dies; an iterative algorithm that never releases them
    // leaks a full edge-list copy per invocation (measured: repeated
    // sf0.1 runs degrade 5s → 14s as the store thrashes). Track what
    // this call allocates and unpersist everything except the RDDs the
    // RETURNED labels rest on — those must stay, their lineage is
    // truncated.
    lastCallUsedDriverFinish.set(java.lang.Boolean.FALSE)
    val allocated = scala.collection.mutable.ListBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      allocated ++= backingRdds(c)
      c
    }
    val idCol = vertices.columns.head
    var lbl = ckpt(vertices.select(col(idCol).as("id"), col(idCol).as("lbl")))
    val Array(srcC, dstC) = edges0.columns.take(2)
    var edges = ckpt(edges0.select(col(srcC).as("src"), col(dstC).as("dst"))
      .filter(col("src") =!= col("dst")))
    var iter = 0
    var done = false
    while (iter < maxIter && !done && !edges.isEmpty) {
      // bounded driver finish: edges is checkpointed, so the count is a
      // scan of materialized partitions, not a recompute
      if (localFinishEdges > 0 && edges.count() <= localFinishEdges) {
        lastCallUsedDriverFinish.set(java.lang.Boolean.TRUE)
        val spark = vertices.sparkSession
        import spark.implicits._
        val collected = edges.select(col("src").cast("long"),
          col("dst").cast("long")).as[(Long, Long)].collect()
        val roots = unionFind(collected)
        // preserve the caller's vertex id type (ids were widened to long
        // for the driver round-trip)
        val idType = vertices.schema.head.dataType
        val mapping = ckpt(roots.toSeq.toDF("lbl", "p")
          .select(col("lbl").cast(idType).as("lbl"),
            col("p").cast(idType).as("p")))
        lbl = ckpt(lbl
          .join(broadcast(mapping), Seq("lbl"), "left")
          .select(col("id"), coalesce(col("p"), col("lbl")).as("lbl")))
        edges = edges.limit(0)
        done = true
      } else {
      // hook: parent(v) = min(v, min neighbor); roots satisfy p == v
      var parent = edges
        .union(edges.select(col("dst"), col("src")))
        .groupBy("src")
        .agg(least(col("src"), min(col("dst"))).as("p"))
        .select(col("src").as("v"), col("p"))
      parent = ckpt(parent)
      // pointer-jump to the roots, two squarings per materialization:
      // one join chain computes p² and p⁴ over the checkpointed parent;
      // p⁴ == p² pointwise ⇒ p² is idempotent ⇒ p² maps every node to
      // its root. Handles depth⁴ per driver round-trip — half the
      // scheduling overhead of checking after every squaring; the extra
      // joins are label-space tiny.
      var jumping = true
      while (jumping) {
        val p1 = parent
        val jumped = ckpt(p1.as("a")
          .join(p1.select(col("v").as("v2"), col("p").as("q2")),
            col("a.p") === col("v2"))
          .join(p1.select(col("v").as("v3"), col("p").as("q3")),
            col("q2") === col("v3"))
          .join(p1.select(col("v").as("v4"), col("p").as("q4")),
            col("q3") === col("v4"))
          .select(col("a.v").as("v"), col("q2").as("p2"), col("q4").as("p4")))
        jumping = !jumped.filter(col("p4") =!= col("p2")).isEmpty
        parent = jumped.select(col("v"),
          (if (jumping) col("p4") else col("p2")).as("p"))
      }
      // rewrite labels through the root mapping (absent = already root)
      lbl = ckpt(lbl
        .join(broadcast(parent.select(col("v").as("lbl"), col("p"))),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("p"), col("lbl")).as("lbl")))
      // contract: surviving edges connect different trees;
      // re-canonicalize orientation so the checkpoint stays deduplicated
      edges = ckpt(edges
        .join(broadcast(parent.select(col("v").as("src"), col("p").as("ps"))), "src")
        .join(broadcast(parent.select(col("v").as("dst"), col("p").as("pd"))), "dst")
        .filter(col("ps") =!= col("pd"))
        .select(least(col("ps"), col("pd")).as("src"),
          greatest(col("ps"), col("pd")).as("dst"))
        .distinct())
      }
      iter += 1
    }
    // Exhausting maxIter with cross-tree edges still live would return
    // partially-merged labels — downstream dedup would silently keep
    // extra "canonical" docs. O(log n) convergence makes 20 rounds ample,
    // so the check is effectively free (edges is checkpointed); fail loud
    // rather than hand back a wrong answer.
    val converged = done || edges.isEmpty
    // release every intermediate this call pinned; the returned labels'
    // own backing RDDs must survive (their lineage is truncated) —
    // unless we are about to throw, in which case nothing survives
    val keep = if (converged) backingRdds(lbl).map(_.id).toSet else Set.empty[Int]
    allocated.filterNot(r => keep.contains(r.id)).distinct
      .foreach(_.unpersist(blocking = false))
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: $maxIter rounds exhausted with cross-tree " +
        "edges remaining — raise maxIter")
    lbl
  }
}
