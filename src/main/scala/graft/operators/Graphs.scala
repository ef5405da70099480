package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal distributed graph utilities for dedup clustering (north-star
  * extension; no reference counterpart).
  *
  * Scale design: connected components via iterative min-label propagation —
  * each round is one shuffle-join of the (skinny) edge list against the
  * (id, component) label table, so the cost is O(diameter) joins over
  * 2-column rows. Near-dup candidate graphs from bucket-minimum LSH pairing
  * are star-shaped (every member links to its bucket minimum), so the
  * diameter — and the iteration count — stays tiny regardless of corpus
  * size. For adversarial long-chain graphs the classic large-star/small-star
  * algorithm halves the diameter per round; not needed for LSH dedup.
  */
object Graphs {

  /** Connected components of the undirected graph given as an edge list:
    * returns (id, component) for every vertex that appears in an edge,
    * where `component` is the MINIMUM vertex id reachable from `id`.
    * Vertices with no edges are their own singleton components and are NOT
    * emitted (callers treat absence as identity).
    *
    * Driver-side iteration control (one comparison per round) with
    * `localCheckpoint` truncating the plan lineage each round — without it
    * the iterated join plan grows exponentially. Label sums decrease
    * strictly monotonically until the fixpoint, so convergence is detected
    * by an unchanged checksum rather than a row-by-row diff.
    *
    * ONE action per round: the checkpoint is LAZY (`localCheckpoint(false)`)
    * so the convergence checksum is the action that materializes it — the
    * round's label update and its convergence check ride the same job
    * instead of a checkpoint job followed by a separate aggregate job.
    *
    * Throws `IllegalStateException` when `maxIterations` rounds pass
    * without reaching the fixpoint, instead of returning unconverged
    * labels.
    */
  def connectedComponentsByMinLabel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIterations: Int = 20
  ): DataFrame = {
    // NOTE (r14): pre-partitioning sym by the per-round join key before
    // the checkpoint was tried and reverted — localCheckpoint loses the
    // physical partitioning (`Scan ExistingRDD ... UnknownPartitioning`
    // in the executed plan), so the extra exchange bought nothing.
    // LAZY checkpoint: the first round's convergence checksum materializes
    // it — an eager checkpoint here would spend a whole extra driver action
    // (job barrier) on a table the next job reads anyway.
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges.select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint(false)

    // Seed with the FIRST propagation round fused into initialization:
    // from identity labels, round 1 computes min(id, neighbor ids) and its
    // pointer-jump is a no-op (label(component) == component under
    // identity), so labels_0 = groupBy(src).min(least(src, dst)) is
    // EXACTLY the post-round-1 state — one map-side-combined aggregate
    // replaces the init distinct AND the first 3-join round (the loop's
    // per-round job is the dominant cost on shallow LSH candidate graphs,
    // which converge in 1-2 effective rounds).
    var labels = sym
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("component"))
      .localCheckpoint(false)
    var prevSum = checksum(labels) // materializes the lazy checkpoint

    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // ONE join + ONE aggregate for the whole round, pointer jump
      // included: the label table doubles as extra EDGES (id -> its
      // current component), so the single propagation join delivers
      // labels(component(id)) — the grandparent label — alongside the
      // neighbor labels, and the union with the own labels feeds one min
      // aggregate. Identical components at the fixpoint (every propagated
      // label is the label of a reachable vertex; every component value is
      // itself a vertex present in `labels`, so the inner join drops
      // nothing). vs the previous shape (propagate-join, aggregate, then a
      // second jump join against the post-step labels): 2 exchanges fewer
      // per round for the same asymptotic round count — the jump here uses
      // the PRE-step labels, so adversarial long chains contract slightly
      // slower per round (still doubling), while the LSH candidate graphs
      // this serves (star-shaped, 2-4 rounds measured) converge in the
      // same number of rounds.
      val jumpEdges = labels
        .select(col("id").as("src"), col("component").as("dst"))
      val neighborLabels = labels
        .select(col("id").as("__nid"), col("component"))
      val updated = sym
        .unionByName(jumpEdges)
        .join(neighborLabels, col("dst") === col("__nid"))
        .select(col("src").as("id"), col("component"))
        .unionByName(labels)
        .groupBy("id")
        .agg(min("component").as("component"))
        .localCheckpoint(false)
      val newSum = checksum(updated) // one job: materialize + converge-check
      converged = newSum == prevSum
      prevSum = newSum
      labels = updated
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $i rounds " +
          "(maxIterations): the labels are not final"
      )
    labels
  }

  /** Exact decimal sum of labels — strictly decreases while any label can
    * still propagate, so equality across rounds proves the fixpoint. */
  private def checksum(labels: DataFrame): java.math.BigDecimal =
    labels
      .agg(sum(col("component").cast("decimal(38,0)")))
      .head()
      .getDecimal(0)

  /** Fixed-iteration PageRank over a directed edge list (duplicate edges
    * collapse to one). Returns (id, rank) for every vertex appearing in an
    * edge; ranks sum to 1. Dangling vertices (no out-edges) redistribute
    * their mass uniformly, the standard correction — so rank mass is
    * conserved every iteration.
    *
    * Scale shape: each iteration is one join of the skinny edge list
    * against the (id, rank/outdeg) contribution table followed by a hash
    * aggregate on the destination — the same shuffle pattern as the
    * min-label rounds above, O(iterations) passes with `localCheckpoint`
    * truncating lineage. The dangling-mass term rides INSIDE the same job
    * as a one-row aggregate broadcast-crossJoined onto the rank update
    * (no extra driver action per round; graphs with no dangling vertices
    * skip even that, decided by one up-front check). Fixed
    * iteration count, not convergence-tested: ranking applications
    * (centrality features, crawl prioritization) use 3-20 iterations and a
    * deterministic cost matters more than the last decimal.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      damping: Double = 0.85
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges
      .select(
        col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")
      )
      .distinct()
      .localCheckpoint()
    val nodes = e
      .select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count().toDouble
    // distinct key name: outDeg derives from e, so joining on src === src
    // would resolve both sides to the SAME attribute (ambiguous self-join)
    val outDeg = e
      .groupBy("src")
      .agg(count(lit(1)).cast("double").as("__outdeg"))
      .withColumnRenamed("src", "__osrc")
      .localCheckpoint()

    // one up-front action decides whether the per-iteration dangling-mass
    // aggregate (a driver action per round) is needed at all — symmetric
    // graphs (the common dedup/similarity case) skip it entirely
    val hasDangling = nodes
      .join(outDeg, nodes("id") === col("__osrc"), "left_anti")
      .limit(1)
      .count() > 0

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks, e("src") === ranks("id"))
        .join(outDeg, e("src") === col("__osrc"))
        .select(e("dst").as("id"), (col("rank") / col("__outdeg")).as("__c"))
        .groupBy("id")
        .agg(sum("__c").as("__inflow"))
      // dangling mass as dataflow, not a driver action: a one-row aggregate
      // broadcast onto every rank row keeps the whole update in ONE job per
      // iteration (the old .head() per round launched an extra job each)
      val joined = nodes.join(contribs, Seq("id"), "left")
      val withDangling =
        if (!hasDangling) joined.withColumn("__dangling", lit(0.0))
        else {
          val dangling = ranks
            .join(outDeg, ranks("id") === col("__osrc"), "left_anti")
            .agg(coalesce(sum("rank"), lit(0.0)).as("__dangling"))
          joined.crossJoin(broadcast(dangling))
        }
      ranks = withDangling
        .select(
          col("id"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("__inflow"), lit(0.0)) + col("__dangling") / lit(n)))
            .as("rank")
        )
        .localCheckpoint()
    }
    ranks
  }
  /** Exact triangle count of the undirected graph given as an edge list
    * (self-loops dropped, parallel edges collapsed). Returns one row:
    * (n_vertices, n_edges, n_triangles).
    *
    * Degree-ordered orientation (Cohen 2009 / the classic MapReduce
    * formulation): every edge is directed from its (degree, id)-smaller
    * endpoint to the larger, so each triangle survives as EXACTLY ONE
    * wedge u->v->w with closing edge u->w, and the wedge count per vertex
    * is bounded by its oriented out-degree — O(m^1.5) total work on any
    * graph (arboricity bound) instead of sum(deg^2) for naive wedge
    * generation through hubs. All three joins are equi-joins on vertex
    * keys; rows never carry more than two ids.
    */
  def triangleCount(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val e = edges
      .filter(col(srcCol) =!= col(dstCol))
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(
        least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b")
      )
      .distinct()
    val deg = e
      .select(explode(array(col("__a"), col("__b"))).as("__v"))
      .groupBy("__v")
      .agg(count(lit(1)).as("__d"))
    // orient by (degree, id): u -> v iff (deg(u), u) < (deg(v), v)
    val withDeg = e
      .join(deg.select(col("__v").as("__a"), col("__d").as("__da")), Seq("__a"))
      .join(deg.select(col("__v").as("__b"), col("__d").as("__db")), Seq("__b"))
    val oriented = withDeg
      .select(
        when(
          col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("__a") < col("__b")),
          struct(col("__a").as("u"), col("__b").as("v"))
        ).otherwise(struct(col("__b").as("u"), col("__a").as("v")))
          .as("__e")
      )
      .select(col("__e.u").as("__u"), col("__e.v").as("__v"))
    val wedges = oriented
      .select(col("__u").as("__w1"), col("__v").as("__mid"))
      .join(
        oriented.select(col("__u").as("__mid"), col("__v").as("__w2")),
        Seq("__mid")
      )
    val triangles = wedges
      .join(
        oriented.select(col("__u").as("__w1"), col("__v").as("__w2")),
        Seq("__w1", "__w2")
      )
    triangles
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_vertices"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_vertices"), col("n_edges"), col("n_triangles"))
  }

  /** Synchronous label propagation over the undirected edge graph — the
    * community-detection companion to [[connectedComponentsByMinLabel]]:
    * where CC answers "which rows are LINKED at all" (the dedup-cluster
    * question), LPA answers "which rows cluster DENSELY" (near-dup
    * families inside a weakly-connected blob, user cohorts in an
    * interaction graph). Every vertex starts as its own label; each round
    * every vertex adopts the most frequent label among its neighbors
    * (ties: the smallest label — the deterministic variant of Raghavan et
    * al. 2007's random tie-break, so runs, partitionings, and the SQL
    * oracle all agree). A FIXED `rounds` rather than convergence: sync
    * LPA can 2-cycle on bipartite-ish regions, so bounded rounds are the
    * standard and the determinism contract.
    *
    * Returns (id, community) for every vertex that appears in a NON-self-
    * loop edge. NOTE one deliberate divergence from
    * [[connectedComponentsByMinLabel]]'s emit contract: self-loops carry
    * no label information here, so a vertex whose only edges are
    * self-loops is NOT emitted (CC emits it as its own component) —
    * callers joining the two outputs must outer-join on id.
    *
    * Scale shape: per round, ONE join of the edge list against the
    * node-sized label table (shuffles on vertex keys only) + one
    * map-side-combined (vertex, label) count + a `WindowGroupLimit`
    * argmax — never an unpartitioned window, no driver actions in the
    * loop; labels are lazily `localCheckpoint`ed so the iterated plan
    * does not grow exponentially. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 3
  ): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // long-id contract, enforced loudly: a silent cast("long") on string
    // ids would turn non-numeric vertices into NULLs and quietly drop
    // them from the labeling — map string ids to longs (e.g. xxhash64)
    // before calling. Accepted: every type whose long cast is lossless
    // for ids (integrals and scale-0 decimals, the common JDBC/parquet
    // extract shapes); rejected: strings (silent NULL drops) and
    // floats (silent truncation).
    Seq(srcCol, dstCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = edges.schema(c).dataType
      val lossless = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType if d.scale == 0                => true
        case _                                             => false
      }
      require(
        lossless,
        s"vertex id column '$c' must be an integral (or scale-0 decimal) " +
          s"type (got $dt): non-numeric ids would be silently dropped by " +
          "the long cast — hash or dictionary-encode string ids to longs " +
          "first"
      )
    }
    val dir = edges
      .select(
        col(srcCol).cast("long").as("__a"),
        col(dstCol).cast("long").as("__b")
      )
      .filter(
        col("__a").isNotNull && col("__b").isNotNull && col("__a") =!= col("__b")
      )
    val und = dir
      .union(dir.select(col("__b").as("__a"), col("__a").as("__b")))
      .distinct()
      .localCheckpoint()
    var labels = und
      .select(col("__a").as("id"))
      .distinct()
      .select(col("id"), col("id").as("community"))
    for (_ <- 1 to rounds) {
      val counts = und
        .join(
          labels.select(col("id").as("__b"), col("community").as("__nl")),
          Seq("__b")
        )
        .groupBy(col("__a").as("id"), col("__nl").as("community"))
        .agg(count(lit(1)).as("__c"))
      labels = TopN
        .firstRow(
          counts,
          n = 1,
          partitionBy = Seq(col("id")),
          orderBy = Seq(col("__c").desc, col("community"))
        )
        .select("id", "community")
        .localCheckpoint(false)
    }
    labels
  }
}
