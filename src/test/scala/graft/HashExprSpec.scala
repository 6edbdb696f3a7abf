package graft

import graft.functions.{GraftFunctions, TextFunctions}
import graft.functions.TextFunctions.{shingles, tokens}
import graft.operators.Similarity
import graft.plans.Md5Util
import org.apache.spark.sql.functions._

/** The native expressions (graft.plans) must be bit-identical to the
  * composed-builtin formulations — that equivalence is what carries
  * the DuckDB oracle guarantee over to the fast path.
  */
class HashExprSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(80).cache()

  test("Md5Util.hash60 == conv(substring(md5,1,15),16,10)") {
    val samples = Seq("", "a", "hello world", "Übergröße 漢字", "x" * 1000)
    val viaSql = samples.toDF("s")
      .select(conv(substring(md5($"s"), 1, 15), 16, 10).cast("long").as("h"))
      .as[Long].collect().toSeq
    val viaJvm = samples.map(Md5Util.hash60)
    assert(viaSql == viaJvm)
  }

  test("HashedShingles == hash60Array(shingles(tokens(text))) incl. edge cases") {
    val edge = Seq("", " ", "one", "a b", "a  b   c", "x " * 200).toDF("text")
    val both = docs.select($"text").union(edge).select(
      GraftFunctions.hashedShingles($"text", 2).as("fused"),
      GraftFunctions.hash60Array(shingles(tokens($"text"), 2)).as("composed"))
    assert(both.filter(not($"fused" === $"composed")).count() == 0)
  }

  test("Hash60Array == composed element-wise hash60") {
    val both = docs.select(
      GraftFunctions.hash60Array(shingles(tokens($"text"), 2)).as("fast"),
      TextFunctions.hash60Array(shingles(tokens($"text"), 2)).as("slow"))
    assert(both.filter(not($"fast" === $"slow")).count() == 0)
  }

  test("MinHashSig == composed minhashSignature on real docs") {
    val hashed = GraftFunctions.hash60Array(shingles(tokens($"text"), 2))
    val both = docs.select(
      GraftFunctions.minhashSig(hashed, 12).as("fast"),
      TextFunctions.minhashSignature(hashed, 12).as("slow"))
    assert(both.filter(not($"fast" === $"slow")).count() == 0)
  }

  test("SimHash60 == composed simhash60 on real docs") {
    val hashed = GraftFunctions.hash60Array(shingles(tokens($"text"), 2))
    val both = docs.select(
      GraftFunctions.simhash60Fast(hashed).as("fast"),
      TextFunctions.simhash60(hashed).as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
  }

  test("SimHash60 edge cases: empty array, null") {
    val got = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("only"))
    ).toDF("id", "arr")
      .select(GraftFunctions.simhash60Fast(GraftFunctions.hash60Array($"arr")).as("h"))
      .as[Long].collect().toSeq
    assert(got.head == 0L) // empty: all counters 0 → no bits set
    val nullRow = Seq((1L)).toDF("id")
      .select(GraftFunctions.simhash60Fast(lit(null).cast("array<bigint>")).as("h"))
      .select($"h".isNull).as[Boolean].head()
    assert(nullRow)
  }

  test("HyperplaneBuckets == per-table composed lshBucket") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(40)
    val fast = emb.select(
      $"vec_id", GraftFunctions.lshBuckets($"embedding", 3, 5).as("b"))
    val slow = emb.select(
      $"vec_id",
      array((0 until 3).map(t => Similarity.lshBucket($"embedding", t, 5)): _*).as("b"))
    val joined = fast.alias("f").join(slow.alias("s"), "vec_id")
      .filter(not($"f.b" === $"s.b"))
    assert(joined.count() == 0)
  }

  test("CosineSim == composed cosine, exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(30)
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb"))
    val pairs = a.crossJoin(b).filter($"ia" < $"ib")
      .select(
        GraftFunctions.cosineFast($"va", $"vb").as("fast"),
        Similarity.cosine($"va", $"vb").as("slow"))
    // bit-identical: same operations in the same order
    assert(pairs.filter($"fast" =!= $"slow").count() == 0)
  }

  test("SquaredDist == composed sqDist, exactly, incl. edge cases") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(30)
    val a = emb.select($"vec_id".as("ia"), $"embedding".cast("array<double>").as("va"))
    val b = emb.select($"vec_id".as("ib"), $"embedding".cast("array<double>").as("vb"))
    val pairs = a.crossJoin(b).filter($"ia" <= $"ib")
      .select(
        GraftFunctions.sqDistFast($"va", $"vb").as("fast"),
        graft.operators.Clustering.sqDist($"va", $"vb").as("slow"))
    // bit-identical: same left-to-right accumulation from 0.0
    assert(pairs.filter($"fast" =!= $"slow").count() == 0)
    assert(pairs.filter($"fast".isNull).count() == 0)
    // dimension mismatch → null, like the composed zip_with null-pad;
    // empty arrays → 0.0; null side → null
    val edge = Seq(
      (Seq(1.0, 2.0), Seq(1.0)),
      (Seq.empty[Double], Seq.empty[Double]))
      .toDF("x", "y")
      .select(
        GraftFunctions.sqDistFast($"x", $"y").as("fast"),
        graft.operators.Clustering.sqDist($"x", $"y").as("slow"))
      .collect()
    assert(edge(0).isNullAt(0) && edge(0).isNullAt(1))
    assert(edge(1).getDouble(0) == 0.0 && edge(1).getDouble(1) == 0.0)
    val nul = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("x", "y")
      .select(GraftFunctions.sqDistFast($"x", $"y").as("fast")).collect()
    assert(nul(0).isNullAt(0))
  }

  test("SquaredDist / CosineSim: a null ELEMENT nulls the result, like the composed fold") {
    // the composed zip_with/aggregate form propagates a null element
    // through the fold to a NULL result; the native kernels must not
    // silently read the slot as 0.0 (the round-15 contract fix)
    val rows = Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(4.0), None)))
      .toDF("x", "y")
    val sq = rows.select(
      GraftFunctions.sqDistFast($"x", $"y").as("fast"),
      graft.operators.Clustering.sqDist($"x", $"y").as("slow")).collect()
    sq.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
    val cosRows = Seq(
      (Seq(Some(1.0f), None, Some(3.0f)), Seq(Some(1.0f), Some(2.0f), Some(3.0f))))
      .toDF("x", "y")
    val cos = cosRows.select(
      GraftFunctions.cosineFast($"x", $"y").as("fast"),
      Similarity.cosine($"x", $"y").as("slow")).collect()
    cos.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("CdcChunks == composed cdcChunks, row for row") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = graft.operators.Curation.cdcChunks(d, "doc_id", "text", window = 8, mask = 15L)
    val slow = graft.operators.Curation.cdcChunksComposed(d, "doc_id", "text", window = 8, mask = 15L)
    assert(fast.count() == slow.count())
    assert(fast.exceptAll(slow).count() == 0)
    assert(slow.exceptAll(fast).count() == 0)
  }

  test("functions are SQL-callable after registration") {
    docs.createOrReplaceTempView("hx_docs")
    val n = spark.sql(
      """SELECT graft_simhash60(graft_hash60_array(split(trim(text), '\\s+'))) AS h FROM hx_docs""")
      .filter($"h".isNotNull).count()
    assert(n == 80)
  }

  test("hash60Scala (typed-operator mirror) == hash60 Column form") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(7)
    val samples = Seq("", "a", "#", "0", "München ☃") ++
      Seq.fill(40)(rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString)
    val viaColumn = samples.toDF("s")
      .select($"s", TextFunctions.hash60($"s").as("h"),
        TextFunctions.hash60($"s", 3).as("h3"))
      .as[(String, Long, Long)].collect()
    for ((s, h, h3) <- viaColumn) {
      assert(TextFunctions.hash60Scala(s) == h, s"plain mismatch on '$s'")
      assert(TextFunctions.hash60Scala(s, 3) == h3, s"seeded mismatch on '$s'")
    }
  }
}
