package graft

import graft.functions.GraftFunctions
import graft.operators.SkewTools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

class SkewAndExtensionsSpec extends SparkSpec {

  import spark.implicits._

  test("saltedAggregate == direct groupBy on a skewed key") {
    val df = ((1 to 5000).map(i => ("hot", i.toDouble)) ++
      (1 to 100).map(i => (s"cold$i", i.toDouble))).toDF("k", "v")
    val direct = df.groupBy($"k")
      .agg(sum($"v").as("total"), count(lit(1)).as("cnt"))
      .as[(String, Double, Long)].collect().toSet
    val salted = SkewTools.saltedAggregate(df, Seq("k"), 16)(
      Seq(sum($"v").as("s"), count(lit(1)).as("c")),
      Seq(sum($"s").as("total"), sum($"c").as("cnt")))
      .as[(String, Double, Long)].collect().toSet
    assert(salted == direct)
  }

  test("saltedJoin == direct join, including rows per hot key") {
    val fact = ((1 to 3000).map(_ => 1L) ++ Seq(2L, 3L)).toDF("k")
    val dim = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("k", "name")
    val direct = fact.join(dim, Seq("k")).groupBy($"k", $"name").count()
      .as[(Long, String, Long)].collect().toSet
    val salted = SkewTools.saltedJoin(fact, dim, Seq("k"), 8).groupBy($"k", $"name").count()
      .as[(Long, String, Long)].collect().toSet
    assert(salted == direct)
    assert(direct.contains((1L, "one", 3000L)))
  }

  test("runtime bloom-filter join pruning engages on selective shuffle joins") {
    // at 100 TB a selective dim-side filter should prune fact rows
    // BEFORE the shuffle via an injected runtime bloom filter; verify
    // the engine configuration supports it (thresholds lowered to
    // trigger at test scale, AQE's broadcast preference disabled for
    // the plan to keep the shuffle join the bloom filter needs)
    val dir = "/root/testdata/sf0.001"
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, dir)
      val sel = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val joined = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .groupBy().agg(sum($"l_quantity").as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"runtime bloom filter not injected:\n$plan")
      assert(joined.head().getAs[Number](0).doubleValue > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftExtensions installs every native function builder") {
    // the test session comes from GraftSession, which installs the
    // extensions: every name resolves in SQL with no register call, and
    // the registry entry is the extension's (register would have
    // recorded its builder's class name instead of "graft")
    val registry = spark.sessionState.functionRegistry
    for (name <- GraftFunctions.functions.keys) {
      assert(registry.lookupFunction(FunctionIdentifier(name)).map(_.getClassName)
        .contains("graft"), name)
      assert(spark.sql(s"DESCRIBE FUNCTION $name").collect().nonEmpty, name)
    }
    val n = spark.sql(
      "SELECT graft_simhash60(graft_hashed_shingles('a b c d e', 2)) AS h")
      .collect().head.getLong(0)
    assert(n != 0L)
  }

  test("register fills a session that lacks the functions, then changes nothing") {
    // the builders are shared `functions` values, so a re-registration
    // shows as a fresh ExpressionInfo next to the same builder
    def entries(s: SparkSession) = GraftFunctions.functions.keys.map { name =>
      val id = FunctionIdentifier(name)
      val registry = s.sessionState.functionRegistry
      name -> registry.lookupFunction(id).zip(registry.lookupFunctionBuilder(id))
    }.toMap
    val bare = spark.newSession()
    GraftFunctions.functions.keys.foreach(n =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(entries(bare).values.forall(_.isEmpty))
    GraftFunctions.register(bare)
    val simhash = "SELECT graft_simhash60(graft_hashed_shingles('a b c d e', 2))"
    assert(bare.sql(simhash).head().getLong(0) == spark.sql(simhash).head().getLong(0))
    for (s <- Seq(bare, spark)) {
      val before = entries(s)
      GraftFunctions.register(s)
      GraftFunctions.register(s)
      val after = entries(s)
      for ((name, entry) <- before) {
        val (info, builder) = entry.getOrElse(fail(s"$name is not registered"))
        val (info2, builder2) = after(name).get
        assert((info2 eq info) && (builder2 eq builder), name)
      }
    }
  }

  test("positive-integer env dials reject bad values with the name and value") {
    assert(GraftSession.parsePositive("SPARK_GRAFT_CPUS", "4") == 4)
    assert(GraftSession.parsePositive("SPARK_GRAFT_CPUS", " 8 ") == 8)
    for (bad <- Seq("0", "-1", "x", "", "2.5")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parsePositive("SPARK_GRAFT_VERIFY_THREADS", bad))
      assert(e.getMessage.contains("SPARK_GRAFT_VERIFY_THREADS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(GraftSession.positiveIntEnv("SPARK_GRAFT_NO_SUCH_DIAL", 7) == 7)
  }
}
