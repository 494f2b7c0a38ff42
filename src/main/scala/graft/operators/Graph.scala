package graft.operators

import graft.util.GraftConf
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph analytics over edge lists — the family that ranks
  * and clusters a similarity graph once dedup has built it (connected
  * components lives in [[Dedup.connectedComponents]]; this hosts the
  * iterative value-propagation operators).
  *
  * Everything is edge-list MapReduce: an iteration is one equi-join of
  * the edge list against the current node values plus one aggregation
  * by destination — the Pregel step expressed as DataFrame shuffles,
  * the same shape GraphX/Giraph run at web scale. No adjacency matrix,
  * no unbounded driver-side graph state; like the CC family, a
  * SIZE-ADAPTIVE driver arm takes over when the (deduplicated) edge
  * list fits under a maxResultSize-clamped limit, because five
  * scheduler rounds over a driver-sized graph cost more than the whole
  * computation done locally (same crossover the union-find arm
  * measured in BENCH_LOCAL.md).
  */
object Graph {

  /** PageRank in FIXED-POINT integer arithmetic: node values are
    * BIGINT micro-units (initial 1,000,000 per node), an iteration
    * sends `rank div degree` along every (undirected) edge and damps
    * with integer `(85·Σ) div 100 + 150,000`. Two properties make this
    * the form a cross-engine pipeline wants:
    *
    *   - EXACT determinism: integer sums are order-independent, so any
    *     engine (the DuckDB oracle unrolls the same iterations) lands
    *     on the same bits — no float-summation drift, no rounding
    *     policy to negotiate. Remainders of the integer divisions are
    *     deliberately dropped (total mass decays slightly); rank is an
    *     ORDERING signal, not a probability.
    *   - Scale: per iteration one broadcast-or-shuffle join of edges
    *     against ranks + one sum-by-destination — linear in |E|, the
    *     standard distributed PageRank cost. Dangling/isolated nodes
    *     simply keep receiving the base term.
    *
    * Edges are treated as undirected (both directions carry rank);
    * self-loops and duplicate edges are dropped first. Edge endpoints
    * not present in `nodes` count toward their neighbors' degrees but
    * hold no rank (mass sent to them decays) — both arms reproduce
    * this exactly.
    *
    * Arms (both property-spec'd equal):
    *   - |E| ≤ min(`graft.pagerank.localEdgeLimit`, maxResultSize/20):
    *     packed-primitive collect (16 B/edge), integer loop on arrays,
    *     one parallelize back — the whole rank phase is a single job.
    *   - above: the Pregel loop. The rank table rides the broadcast
    *     bus while it fits (`graft.pagerank.broadcastNodes`, 24 B/node)
    *     so an iteration costs ONE exchange; past that, shuffled joins
    *     against the edge list pre-partitioned on the join key.
    *
    * Output: (node long, degree long, pr long) for every node that
    * appears in `nodes`, after `iters` rounds.
    */
  def pageRankFixedPoint(edges: DataFrame, aCol: String, bCol: String,
                         nodes: DataFrame, nodeCol: String,
                         iters: Int,
                         localEdgeLimit: Long = 25000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .transform(graft.util.Checkpoints.pin)
    val allNodes = nodes.select(col(nodeCol).cast("long").as("u")).distinct()
      .transform(graft.util.Checkpoints.pin)

    // Same clamp as the CC driver arm: the packed collect is charged
    // against spark.driver.maxResultSize at 16 B/edge, so cap the limit
    // at 80% of it and degrade to the distributed loop past that.
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    val resultCap = if (maxResult <= 0) Long.MaxValue else maxResult / 20
    val limit = math.min(resultCap,
      GraftConf.long(spark, "graft.pagerank.localEdgeLimit", localEdgeLimit))

    if (sym.count() <= limit) localPageRank(sym, allNodes, iters)
    else distributedPageRank(sym, allNodes, iters)
  }

  /** The Pregel loop — the production arm past the driver limit. */
  private def distributedPageRank(sym: DataFrame, allNodes: DataFrame,
                                  iters: Int): DataFrame = {
    // Pre-partition the (pinned, loop-invariant) edge list on the join
    // key: localCheckpoint preserves outputPartitioning, so the
    // shuffle-arm join below never re-exchanges the |E|-sized side.
    val undirected = sym.unionAll(sym.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u"))
      .transform(graft.util.Checkpoints.pin)
    val deg = undirected.groupBy("u").agg(count(lit(1)).as("degree"))
    val all = allNodes
      .join(deg, Seq("u"), "left_outer")
      .select(col("u"), coalesce(col("degree"), lit(0L)).as("degree"))
      .transform(graft.util.Checkpoints.pin)

    // Size-adaptive join side: the rank table is 24 B/node — up to the
    // configured limit (default 4M nodes ≈ 100 MB) it rides the
    // broadcast bus and an iteration costs ONE exchange (the
    // sum-by-destination); past it, shuffled joins against the
    // pre-partitioned edge list.
    val bcastLimit = GraftConf.long(allNodes.sparkSession, "graft.pagerank.broadcastNodes", 4000000L)
    val useBroadcast = all.count() <= bcastLimit
    def side(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df

    // Ranks carry degree so no per-iteration join against `deg`.
    var ranks = all.select(col("u"), col("degree"), lit(1000000L).as("pr"))
    (1 to iters).foreach { _ =>
      val contrib = undirected
        .join(side(ranks.filter(col("degree") > 0)), Seq("u"))
        .select(col("v").as("u"), expr("pr div degree").as("__c"))
        .groupBy("u").agg(sum("__c").as("__s"))
      ranks = all
        .join(side(contrib), Seq("u"), "left_outer")
        .select(col("u"), col("degree"),
          (lit(150000L) + expr("85 * coalesce(__s, 0L) div 100")).as("pr"))
        .transform(graft.util.Checkpoints.pin)
    }
    ranks.select(col("u").as("node"), col("degree"), col("pr"))
  }

  /** Driver arm: the deduplicated edge list is collected as packed
    * primitive longs (16 B/edge, no Row boxing — same collect shape as
    * `Dedup.localComponents`), the integer loop runs on flat arrays,
    * and the per-node result is parallelized back through a broadcast
    * (never a task-closure capture). Isolated nodes — `nodes` rows
    * touching no edge — never leave the cluster: they all land on the
    * constant base rank, computed distributively via an anti-join.
    * Endpoints absent from `nodes` participate as degree-carrying,
    * rank-less sinks, matching the distributed arm bit-for-bit. */
  private def localPageRank(sym: DataFrame, allNodes: DataFrame,
                            iters: Int): DataFrame = {
    val spark = sym.sparkSession

    def packedLongs(df: DataFrame, cols: Int): Array[Array[Long]] =
      df.rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => var i = 0; while (i < cols) { buf += r.getLong(i); i += 1 } }
        Iterator.single(buf.result())
      }.collect()

    val edgeChunks = packedLongs(sym.select(col("u"), col("v")), 2)
    // Which edge endpoints hold rank: the ones present in `nodes`.
    // Bounded by 2|E| ids — under the same collect budget as the edges.
    val edgeEnds = sym.select(col("u")).unionAll(sym.select(col("v"))).distinct()
    val realChunks = packedLongs(
      allNodes.join(edgeEnds, Seq("u"), "left_semi"), 1)

    // id → dense index over every edge endpoint.
    val idx = new graft.util.LongLongMap()
    val ids = new scala.collection.mutable.ArrayBuilder.ofLong
    var n = 0
    edgeChunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        if (idx.getOrDefault(c(i), -1L) < 0) { idx.put(c(i), n); ids += c(i); n += 1 }
        i += 1
      }
    }
    val id = ids.result()
    val deg = new Array[Long](n)
    edgeChunks.foreach { c =>
      var i = 0
      while (i < c.length) {
        deg(idx.get(c(i)).toInt) += 1; deg(idx.get(c(i + 1)).toInt) += 1
        i += 2
      }
    }
    val real = new Array[Boolean](n)
    realChunks.foreach { c => var i = 0; while (i < c.length) { real(idx.get(c(i)).toInt) = true; i += 1 } }

    var pr = Array.fill(n)(1000000L)
    val contrib = new Array[Long](n)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(contrib, 0L)
      edgeChunks.foreach { c =>
        var i = 0
        while (i < c.length) {
          val a = idx.get(c(i)).toInt
          val b = idx.get(c(i + 1)).toInt
          if (real(a)) contrib(b) += pr(a) / deg(a)
          if (real(b)) contrib(a) += pr(b) / deg(b)
          i += 2
        }
      }
      var j = 0
      while (j < n) { pr(j) = 150000L + 85L * contrib(j) / 100L; j += 1 }
      it += 1
    }

    val basePr = if (iters == 0) 1000000L else 150000L
    val bcast = spark.sparkContext.broadcast((id, deg, pr, real))
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 65536 + 1))
    val rows = spark.sparkContext.parallelize(0 until n, slices).mapPartitions { part =>
      val (bid, bdeg, bpr, breal) = bcast.value
      part.collect { case i if breal(i) => Row(bid(i), bdeg(i), bpr(i)) }
    }
    val schema = StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("degree", LongType, nullable = false),
      StructField("pr", LongType, nullable = false)))
    val edgeNodeRanks = spark.createDataFrame(rows, schema)
    val isolated = allNodes.join(edgeEnds, Seq("u"), "left_anti")
      .select(col("u").as("node"), lit(0L).as("degree"), lit(basePr).as("pr"))
    edgeNodeRanks.unionAll(isolated)
  }
}
