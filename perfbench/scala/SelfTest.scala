package perfbench

import graft.config.PipelineConfig
import graft.pipeline.Pipeline
import java.nio.file.{Files, Path, Paths}
import java.util.Arrays

/** The benchmark's own tests; prints one line per test and exits non-zero
  * when any fails.
  *
  *   perfbench.SelfTest --work <dir> --bench-dir <perfbench dir>
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable => System.err.println(s"[selftest] $name: $e"); false
    }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def files(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).sorted().toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  private def sameBytes(a: Path, b: Path): Boolean = {
    val fa = files(a)
    val fb = files(b)
    fa.map(a.relativize) == fb.map(b.relativize) &&
      fa.zip(fb).forall { case (x, y) => Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)) }
  }

  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv.toSeq)
    val work = a.work
    Files.createDirectories(work)

    test("generator: the same seed writes byte-identical files, another seed does not") {
      val f1 = Corpus.files8(work.resolve("g/f1"), 7, 3, 400)
      val f2 = Corpus.files8(work.resolve("g/f2"), 7, 3, 400)
      val f3 = Corpus.files8(work.resolve("g/f3"), 8, 3, 400)
      assert(sameBytes(f1.source, f2.source) && f1.tally == f2.tally)
      assert(!sameBytes(f1.source, f3.source))
      val w1 = Corpus.wide24(work.resolve("g/w1/e.csv"), 7, 1200)
      val w2 = Corpus.wide24(work.resolve("g/w2/e.csv"), 7, 1200)
      assert(sameBytes(w1.source.getParent, w2.source.getParent) && w1.tally == w2.tally)
    }

    test("metric names match [A-Za-z0-9_.-]+ and are unique") {
      val names = Layers.all.map(_._1) ++ Seq("setup_s", "cold_run_s", "run_s", "peak_rss_mb")
      assert(names.forall(_.matches("[A-Za-z0-9_.-]{1,64}")), names.filterNot(_.matches("[A-Za-z0-9_.-]+")))
      assert(names.distinct.size == names.size)
      // BENCHMARK.json sits next to the benchmark directory and must list the same metrics
      val declared = a.benchDir.toAbsolutePath.getParent.resolve("BENCHMARK.json")
      if (Files.exists(declared)) {
        val text = new String(Files.readAllBytes(declared), "UTF-8")
        val listed = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSet
        val missing = names.toSet -- listed
        assert(missing.isEmpty, s"not in BENCHMARK.json: $missing")
      }
    }

    val spark = Main.session(work)
    try {
      val small = (dir: Path, seed: Long) => Corpus.files8(dir, seed, 4, 500)
      val smallWide = (dir: Path, seed: Long) => Corpus.wide24(dir.resolve("e.csv"), seed, 1500)

      for ((name, gen, cfg) <- Seq(("files8", small, "config/files8.yaml"), ("wide24", smallWide, "config/wide24.yaml")))
        test(s"traced $name pass: every job in exactly one span, same summary as Pipeline.run") {
          val imp = new Importer(work.resolve(s"t-$name"), a.benchDir.resolve(cfg), gen, 3)
          imp.generate()
          val corpus = imp.input
          val untraced = Pipeline.run(spark, PipelineConfig.load(a.benchDir.resolve(cfg).toString), "employees",
            work.resolve(s"t-$name/plain").toString, Corpus.AsOf, Some(corpus.source.toString))
          val tracer = new Tracer(spark.sparkContext)
          spark.sparkContext.addSparkListener(tracer)
          try {
            val (traced, layers, _) = imp.tracedRun(spark, tracer, work.resolve(s"t-$name/traced"))
            val snap = tracer.snapshot()
            assert(snap.jobs.nonEmpty)
            assert(snap.unattributedJobs.isEmpty, snap.unattributedJobs)
            assert(snap.jobs.forall(j => snap.spans.count(_.id == j.span) == 1))
            assert(Layers.ImporterLayers.forall(l => layers(s"$l.jobs") > 0), layers)
            assert(traced.summary == untraced.summary, s"${traced.summary} != ${untraced.summary}")
            assert(Importer.check(traced.summary, work.resolve(s"t-$name/traced"), corpus.tally, "employees").isEmpty)
            traced.unpersist()
          } finally spark.sparkContext.removeSparkListener(tracer)
          untraced.unpersist()
        }

      test("traced query pass: every job in exactly one span") {
        val q = new Queries(a.benchDir, 5)
        val tracer = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(tracer)
        try {
          val r = q.pass(spark, Some(tracer))
          val snap = tracer.snapshot()
          assert(r.failed == 0)
          assert(snap.unattributedJobs.isEmpty, snap.unattributedJobs)
          assert(Layers.Families.forall(f => r.layers(s"queries.$f.build_s") > 0), r.layers)
        } finally spark.sparkContext.removeSparkListener(tracer)
      }

      test("a tampered tally marks its pass as failed") {
        val tampered = (dir: Path, seed: Long) => {
          val c = small(dir, seed)
          c.copy(tally = c.tally.copy(duplicateRowsRemoved = c.tally.duplicateRowsRemoved + 1))
        }
        val honest = new Importer(work.resolve("h"), a.benchDir.resolve("config/files8.yaml"), small, 4)
        honest.generate()
        assert(honest.pass(spark, None).failed == 0)
        val imp = new Importer(work.resolve("x"), a.benchDir.resolve("config/files8.yaml"), tampered, 4)
        imp.generate()
        assert(imp.pass(spark, None).failed == 1)
      }

      test("a tampered expected digest fails the query check") {
        val want = QueryCheck.Expected(3, "00", stable = true)
        assert(QueryCheck.mismatch(want, Digest(3, "00")).isEmpty)
        assert(QueryCheck.mismatch(want, Digest(3, "01")).nonEmpty)
        assert(QueryCheck.mismatch(want.copy(stable = false), Digest(3, "01")).isEmpty)
        assert(QueryCheck.mismatch(want.copy(stable = false), Digest(4, "00")).nonEmpty)
      }
    } finally Main.stop(spark)

    if (failures > 0) {
      println(s"$failures failed")
      sys.exit(1)
    }
    println("all passed")
  }
}
