package graft

import graft.operators.Learning
import org.apache.spark.sql.functions._

/** Plan-shape regression pins for the round-12 rewrites — the shapes
  * that made q140 and the streaming drains scale-correct are easy to
  * lose to a well-meaning refactor (a window re-appearing in the
  * argmax, a literal-prior grid re-materializing per corpus), and
  * nothing else in the suite would notice: the RESULTS stay identical,
  * only the 100 TB cost model breaks. Same pattern as the IVF
  * assignment pin in ClusteringSpanSpec.
  */
class PlanPinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("naive-bayes closed-model scoring: one real shuffle + K² confusion agg, no window") {
    val conf = Learning.naiveBayesConfusion(
      Tables.documents(spark, sf), "doc_id", "text", "source")
    val plan = conf.queryExecution.executedPlan.toString
    // the PLANS.md §16 shape: per-doc K-sum aggregate (THE shuffle)
    // feeding the K²-sized (cls, pred) count — exactly two hash
    // exchanges, nothing corpus-sized beyond the first
    val nHashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nHashEx == 2,
      s"scoring plan must hold exactly 2 hash exchanges (per-doc sums + K² confusion), got $nHashEx:\n$plan")
    // the round-8 lesson, re-learned in round 12: a row_number/window
    // argmax costs a per-partition sort of the whole scored corpus —
    // the in-row array_min argmax must stay
    assert(!plan.contains("Window"),
      s"scoring plan re-introduced a window argmax:\n$plan")
    // the model rides a broadcast token → K-vector row, not a
    // distributed grid join, on the closed-model path
    assert(plan.contains("BroadcastExchange"),
      s"expected the token → K-vector logprob broadcast:\n$plan")
    // and the frame is still correct (diagonal-dominant is not
    // asserted — only that the pin didn't test a degenerate frame)
    assert(conf.agg(sum("n")).head().getLong(0) > 0)
  }

  test("naive-bayes scoring plan carries no data-dependent literals (codegen-cache contract)") {
    // the marker row's "log-likelihood vector" IS the prior vector —
    // no per-class double literal may appear in the plan, or the
    // generated code recompiles on every corpus switch
    val conf = Learning.naiveBayesConfusion(
      Tables.documents(spark, sf), "doc_id", "text", "source")
    val plan = conf.queryExecution.executedPlan.toString
    // a literal prior would print as a raw negative double in the
    // aggregate expressions (log of a <1 ratio); assert none appears
    // in an aggregate/project line
    val litDouble = """-\d+\.\d{4,}""".r
    val offending = plan.linesIterator
      .filter(l => l.contains("HashAggregate") || l.contains("Project"))
      .filter(l => litDouble.findFirstIn(l).isDefined)
      .toSeq
    assert(offending.isEmpty,
      s"data-dependent double literals leaked into the scoring plan:\n${offending.mkString("\n")}")
  }

  test("group percentiles: histogram partial-agg is the only fact-scale stage, windows see distinct values") {
    // the round-14 rewrite's scale property: the fact table is
    // collapsed by a map-side partial count keyed by (group, value)
    // BEFORE any exchange, and the sort/count windows run over the
    // distinct-value histogram — a refactor that reintroduces a
    // row-level rank window would return identical results while
    // re-growing the window evaluator's spill array to group size
    // (measured 409-446 s / OOM-under-concurrency at the 600M-row
    // lineitem replica vs 54-57 s for the histogram)
    val q = graft.operators.Quantiles.groupPercentiles(
      Tables.lineitem(spark, sf), "l_returnflag", "l_extendedprice",
      Seq("lo" -> 0.05, "hi" -> 0.95))
    val plan = q.queryExecution.executedPlan.toString
    // the histogram stage: a partial count keyed by (group, _v)
    assert("HashAggregate\\(keys=\\[[^\\]]*_v[^\\]]*\\], functions=\\[partial_count".r
      .findFirstIn(plan).isDefined,
      s"histogram partial aggregate missing — fact rows would reach the window:\n$plan")
    // no row-ranking window: row_number over the fact was the old shape
    assert(!plan.contains("row_number"),
      s"a row-level rank window reappeared in the percentile plan:\n$plan")
  }

  test("SemDeDup assignment: narrow map-side argmax, no window, no vector through the agg") {
    // the round-15 rewrite's scale property: centroid assignment is a
    // partial max_by over NARROW (id, _sim, cell) rows — one best row
    // per id crosses the exchange, and the SortAggregate partial's
    // per-partition sort touches 40-byte rows only. The old shape
    // (dropDuplicates + row_number window over vector-bearing
    // candidates) measured SPILL_OUT_OF_MEMORY at the 2M-vector
    // replica; a refactor back would return identical rows and only
    // break the cost model.
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val cand = emb.select(col("vec_id"), col("embedding").as("_v"))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.cosineFast(col("_v"), col("_v")).as("_sim"),
        (col("vec_id") % 7).as("cell"))
    val assigned = Similarity.bestCell(cand, emb, "vec_id", "embedding")
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by(cell"),
      s"assignment must be a narrow partial max_by over the cell id:\n$plan")
    assert(!plan.contains("partial_max_by(struct(_v") && !plan.contains("max_by(struct(_v"),
      s"the vector column leaked into the argmax buffer (wide per-partition sort):\n$plan")
    assert(!plan.contains("Window") && !plan.contains("row_number"),
      s"a window argmax reappeared in the assignment plan:\n$plan")
  }

  test("LSH top-k: candidate generation and dedup stay vector-free (dim-768 witness shape)") {
    // the round-16 rewrite's scale property: the bucket rows, the
    // bucket join, and the pair-dedup exchange all carry NARROW
    // (id, tbl, bucket) / (query_id, neighbor_id) rows; vectors
    // re-attach once per distinct pair afterwards. The old shape
    // posexploded the vector into all 8 bucket rows and shuffled the
    // dedup with BOTH vectors aboard — measured 20.7× slower at 12×
    // vector width (ann_topk_lsh 5.7 s → 117 s at 2M×768) where the
    // compute-bound brute path moved 1.5×. Pin: the dedup aggregate
    // groups on exactly (query_id, neighbor_id) and no aggregate or
    // its exchange carries an array column; the only array-bearing
    // join is the row-linear re-attach.
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.lshTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
    // unwrap AQE: the adaptive root's collect doesn't descend into the
    // not-yet-executed plan; the input plan carries the full tree
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def hasArrayOutput(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val aggs = plan.collect {
      case p if p.nodeName.contains("Aggregate") => p
    }
    val dedup = aggs.filter { p =>
      val s = p.toString
      s.contains("query_id") && s.contains("neighbor_id") && s.contains("keys=")
    }
    assert(dedup.nonEmpty, s"expected a pair-dedup aggregate in:\n$plan")
    assert(dedup.forall(!hasArrayOutput(_)),
      s"a vector column crossed the pair-dedup aggregate (wide exchange):\n$plan")
    val exchanges = plan.collect {
      case p if p.nodeName.contains("Exchange") => p
    }
    // exactly the vector re-attach exchanges may carry arrays — the
    // dedup's hash exchange (partitioning on the pair) must not
    val wideEx = exchanges.filter(p => hasArrayOutput(p) &&
      p.toString.contains("hashpartitioning(query_id") &&
      p.toString.contains("neighbor_id"))
    assert(wideEx.isEmpty,
      s"the pair exchange carries a vector column again:\n${wideEx.mkString("\n")}")
  }

  /** The streaming query handle wraps a StreamExecution whose last
    * micro-batch plan is the physical witness; both are private[sql],
    * so reach them reflectively (runtime methods are public bytecode).
    */
  private def lastExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.execution.SparkPlan = {
    val se = q.getClass.getMethod("streamingQuery").invoke(q)
    val le = se.getClass.getMethod("lastExecution").invoke(se)
    le.getClass.getMethod("executedPlan").invoke(le)
      .asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
  }

  /** The join's JoinStateWatermarkPredicates witness is private[sql];
    * reach it reflectively, and degrade a Spark-upgrade rename into
    * this pin's own readable diagnostic instead of a bare
    * NoSuchMethodException that says nothing about state bounds.
    */
  private def stateCleanupWitness(
      join: org.apache.spark.sql.execution.SparkPlan): String =
    try join.getClass.getMethod("stateWatermarkPredicates").invoke(join).toString
    catch {
      case e: ReflectiveOperationException =>
        fail("cannot read the streaming join's state cleanup predicates — " +
          s"Spark internals moved ($e); re-anchor this pin before trusting " +
          "that join state retention is still watermark-bounded")
    }

  test("streaming interval join: state watermark predicates bound BOTH sides (q155/q161 shape)") {
    // q155/q161 are the suite's most expensive replays; the property
    // that keeps them 100 TB-safe is that Spark derived a state
    // CLEANUP predicate for each join side from the watermarks + the
    // time-range condition — lose either (e.g. a refactor drops one
    // side's withWatermark, or the range predicate stops being
    // ts-vs-ts) and state retention becomes unbounded: results stay
    // identical, only the cost model breaks. Pin it structurally.
    import spark.implicits._
    val dir = tmpDir("pin_ij")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L, "click", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 10L, "purchase", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 11L, "click", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.write.parquet(s"$dir/ev")
    val src = spark.readStream.schema(rows.schema).parquet(s"$dir/ev")
    for (jt <- Seq("inner", "left_outer")) {
      val joined = graft.streaming.EventStream.intervalJoin(
        src.filter($"event_type" === "click"),
        src.filter($"event_type" === "purchase"),
        key = "user_id", within = "15 minutes", watermark = "10 minutes",
        joinType = jt)
      val ckpt = tmpDir("pin_ij_ckpt")
      val q = joined.writeStream.format("memory").queryName(s"pin_ij_$jt")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        val plan = lastExecutedPlan(q)
        val joins = plan.collect {
          case p if p.nodeName.contains("StreamingSymmetricHashJoin") => p
        }
        assert(joins.size == 1,
          s"[$jt] expected one streaming symmetric hash join, got:\n$plan")
        // JoinStateWatermarkPredicates prints as
        // "state cleanup [ left ... predicate: ..., right ... predicate: ... ]"
        // with a side OMITTED when its predicate is None — a missing
        // side means that side's state is never evicted
        val swp = stateCleanupWitness(joins.head)
        assert(swp.contains("state cleanup"), s"[$jt] unexpected witness shape: $swp")
        for (side <- Seq("left", "right"))
          assert(swp.contains(s"$side value predicate:") || swp.contains(s"$side key predicate:"),
            s"[$jt] the $side side lost its state cleanup predicate — unbounded retention: $swp")
      } finally q.stop()
    }
  }

  test("streaming as-of chain: bounded join state AND a stateful argmax agg (q162 shape)") {
    // q162 is the suite's only two-stateful-operator chain. Two
    // structural properties keep it 100 TB-safe: the interval join
    // must derive state-cleanup predicates for BOTH sides (else join
    // state never evicts), and the argmax must run as a stateful
    // streaming aggregation (StateStoreSave) — if a refactor collapses
    // it to a stateless projection the append-mode finalize-once
    // contract is silently gone.
    import spark.implicits._
    val dir = tmpDir("pin_asof")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L, "view", 0.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 10L, "purchase", 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 11L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.write.parquet(s"$dir/ev")
    val src = spark.readStream.schema(rows.schema).parquet(s"$dir/ev")
    val out = graft.streaming.EventStream.asofEnrich(
      src.filter($"event_type" === "purchase"),
      src.filter($"event_type" === "view"),
      "user_id", horizon = "60 minutes", watermark = "10 minutes")
    val ckpt = tmpDir("pin_asof_ckpt")
    val q = out.writeStream.format("memory").queryName("pin_asof")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = lastExecutedPlan(q)
      val joins = plan.collect {
        case p if p.nodeName.contains("StreamingSymmetricHashJoin") => p
      }
      assert(joins.size == 1, s"expected one streaming symmetric hash join, got:\n$plan")
      val swp = stateCleanupWitness(joins.head)
      for (side <- Seq("left", "right"))
        assert(swp.contains(s"$side value predicate:") || swp.contains(s"$side key predicate:"),
          s"the $side side lost its state cleanup predicate — unbounded retention: $swp")
      val saves = plan.collect {
        case p if p.nodeName.contains("StateStoreSave") => p
      }
      assert(saves.nonEmpty,
        s"the argmax must be a stateful streaming aggregation, got:\n$plan")
    } finally q.stop()
  }

  test("LEFT OUTER streaming as-of: outer join keeps cleanup predicates, outer rows traverse the argmax (q163 shape)") {
    // q163 is q162's joinType dial turned to left_outer — the
    // production full-enrichment contract (every purchase emits
    // exactly once; cold-start purchases emit with null enrichment).
    // Its correctness hinges on the join's DELAYED OUTER ROW: when a
    // match-less left row's state expires, Spark emits it with null
    // right columns, still carrying the left event time, so the
    // downstream argmax window finalizes it like any matched row. A
    // Spark upgrade that changes outer-row emission (drops a side's
    // cleanup predicate, or emits outer rows past the aggregation)
    // must fail HERE, not at the 100x RocksDB cert. Three structural
    // pins: (1) the one streaming join is LeftOuter, (2) both sides
    // still derive state-cleanup predicates (outer joins only emit
    // delayed rows off evicted state — lose eviction and outer rows
    // never surface AND state never bounds), (3) the argmax is still
    // a stateful streaming agg (StateStoreSave) downstream of the
    // join, so the null-enriched row honors the same finalize-once
    // append contract. The cold-start user below proves the delayed
    // row actually traverses the chain end to end.
    import spark.implicits._
    val dir = tmpDir("pin_asof_outer")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L, "view", 0.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 10L, "purchase", 2.0),
      // cold-start: user 12 purchases with NO prior view — must emit
      // exactly once with null enrichment via the delayed outer row
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 12L, "purchase", 5.0),
      // a late sentinel far past the others advances BOTH sides'
      // watermarks (an outer row only materializes once the watermark
      // proves no match can arrive — the round-15 probe lesson)
      (4L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), 11L, "view", 0.0),
      (5L, java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), 11L, "purchase", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.write.parquet(s"$dir/ev")
    val src = spark.readStream.schema(rows.schema).parquet(s"$dir/ev")
    val out = graft.streaming.EventStream.asofEnrich(
      src.filter($"event_type" === "purchase"),
      src.filter($"event_type" === "view"),
      "user_id", horizon = "60 minutes", watermark = "10 minutes",
      joinType = "left_outer")
    val ckpt = tmpDir("pin_asof_outer_ckpt")
    val q = out.writeStream.format("memory").queryName("pin_asof_outer")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = lastExecutedPlan(q)
      val joins = plan.collect {
        case p if p.nodeName.contains("StreamingSymmetricHashJoin") => p
      }
      assert(joins.size == 1, s"expected one streaming symmetric hash join, got:\n$plan")
      assert(joins.head.toString.contains("LeftOuter"),
        s"the as-of join lost its LeftOuter type — cold-start rows silently drop:\n${joins.head}")
      val swp = stateCleanupWitness(joins.head)
      for (side <- Seq("left", "right"))
        assert(swp.contains(s"$side value predicate:") || swp.contains(s"$side key predicate:"),
          s"the $side side lost its state cleanup predicate — unbounded retention " +
            s"AND no delayed outer rows: $swp")
      val saves = plan.collect {
        case p if p.nodeName.contains("StateStoreSave") => p
      }
      assert(saves.nonEmpty,
        s"the argmax must stay a stateful streaming aggregation, got:\n$plan")
      // end-to-end witness: the cold-start purchase surfaced exactly
      // once, null-enriched, through the argmax
      val got = spark.table("pin_asof_outer")
        .select($"user_id", $"left_id", $"right_id").collect()
      val cold = got.filter(_.getLong(0) == 12L)
      assert(cold.length == 1 && cold.head.isNullAt(2),
        s"cold-start purchase must emit once with null enrichment, got: ${got.mkString(", ")}")
    } finally q.stop()
  }
}
