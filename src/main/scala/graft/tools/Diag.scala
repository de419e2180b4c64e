package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The probes whose results ROADMAP's open items still need. What the
  * earlier scale probes measured is recorded in SCALE.md (the probes
  * themselves are in git history, SCALE.md §7).
  *
  * Usage: runMain graft.tools.Diag drift [n] | bpeplan [n] | qjobs <query> <sfDir>
  * (`SPARK_GRAFT_CPUS` sets local[N], default 32). */
object Diag {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.Engine.install(spark)
    def n(default: Long) = args.lift(1).map(_.toLong).getOrElse(default)
    try args.headOption match {
      case Some("drift") => driftScale(spark, n(4_000_000L))
      case Some("bpeplan") => bpePairCountPlans(spark, n(2_000_000L))
      case Some("qjobs") =>
        val (jobs, stages, tasks) = queryJobProfile(spark, args(1), args(2))
        println(s"[qjobs] ${args(1)}: $jobs jobs, $stages stages, $tasks tasks (sf=${args(2)})")
      case _ => sys.error("usage: Diag drift [n] | bpeplan [n] | qjobs <query> <sfDir>")
    } finally spark.stop()
  }

  private def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  private def sink(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()

  /** rp3 at corpus scale (ROADMAP's rp3 re-judge): the exact
    * path's r17 single-pass rewrite (fold ONE tokenize to a bounded
    * (lang, side, token-count) frequency frame; deciles driver-side) was
    * bench-NEUTRAL at sf0.1 and was kept on a 100 TB argument — the
    * eliminated second pass is a full corpus tokenize. This probe
    * measures both shapes on a synthetic corpus big enough for the
    * tokenize to dominate: parquet-backed docs so each pass is a real
    * scan, r16 two-pass (decile aggregate + bucketing pass) vs the
    * current folded form (CurationQueries.driftOf exact path). The
    * corpus is deleted when the probe ends. */
  private def driftScale(spark: SparkSession, n: Long): Unit = {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_drift_corpus_").toString
    try {
      val langs = array(lit("en"), lit("de"), lit("es"))
      // varied token counts (20-99) so the deciles are non-trivial
      val bodyLen = (pmod(xxhash64(col("id"), lit(3)), lit(80)) + lit(20))
      val text = concat_ws(" ", transform(sequence(lit(1), bodyLen),
        i => concat(lit("w"), pmod(xxhash64(col("id") * 61 + i), lit(10000)))))
      val tGen = time {
        spark.range(n).select(
          col("id").as("doc_id"), text.as("text"),
          element_at(langs, (pmod(col("id"), lit(3)) + 1).cast("int")).as("lang"))
          .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
      }
      val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      println(f"[drift] corpus gen  n=$n%,d: $tGen%.1f s -> $corpusDir")
      import graft.queries.CurationQueries
      import graft.ext.TextAnalysis.words
      // r16 two-pass shape, verbatim (decile aggregate pass + bucketing pass)
      def twoPass(): DataFrame = {
        val tok = docs.select(col("doc_id"), col("lang"),
          size(words(col("text"))).as("t"),
          (col("doc_id") % 10 >= 8).as("is_new"))
        val cuts = CurationQueries.decileCuts(tok.where(!col("is_new")),
          sketchQuantiles = false)
        val bk = tok.join(broadcast(cuts), "lang")
          .select(col("lang"), col("is_new"),
            size(filter(col("cs"), c => c <= col("t"))).as("b"))
        val cnt = bk.groupBy("lang", "is_new", "b").agg(count(lit(1)).as("n"))
        CurationQueries.psiFromBucketCounts(spark, cnt)
      }
      val tOld = (1 to 2).map(_ => time(sink(twoPass()))).min
      println(f"[drift] two-pass (r16 shape)   n=$n%,d: $tOld%.2f s")
      val tNew = (1 to 2).map(_ =>
        time(sink(CurationQueries.driftOf(spark, docs)))).min
      println(f"[drift] folded single-pass     n=$n%,d: $tNew%.2f s " +
        f"(x${tOld / tNew}%.2f vs two-pass)")
      // equality of the emitted drift cards (cells, not just counts)
      val a = twoPass().collect().map(_.toString).sorted
      val b = CurationQueries.driftOf(spark, docs).collect().map(_.toString).sorted
      println(s"[drift] outputs identical: ${a.sameElements(b)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
  }

  /** bpe1 pair-count stage A/B (r18): the r17 trainer counted
    * adjacent symbol pairs with a TYPED Dataset flatMap — every round
    * deserialized each word's symbol array to Scala objects
    * (DeserializeToObject / SerializeFromObject bracketing an opaque
    * lambda, no WholeStageCodegen through the hot loop). The r18 form is
    * a codegen explode(transform(sequence…)) over the same checkpointed
    * vocab. This probe runs BOTH forms over the identical dictionary,
    * prints the executed plans of the fastest run of each (the committed
    * before/after evidence — bpe1's own returned frame is a driver-side
    * LocalRelation, so PlanFmt can't show the training rounds) and their
    * times, and asserts the candidate lists match. Each plan is read
    * from the frame that was collected, so under AQE it is the final
    * plan, not the initial one. */
  private def bpePairCountPlans(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val base = concat_ws(" ", transform(sequence(lit(1), lit(60)),
      i => concat(lit("w"), pmod(xxhash64(col("id") * 61 + i), lit(10000)))))
    val docs = spark.range(n).select(col("id").as("doc_id"), base.as("text"))
    val dict = docs
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val vocab = dict.select(col("cnt").cast("long").as("cnt"),
      concat(
        transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1))),
        array(lit(graft.ext.Bpe.Eow))).as("sym"))
      .as[(Long, Seq[String])].localCheckpoint(true)
    println(s"[bpeplan] vocab ${vocab.count()} words (n=$n docs)")
    val pool = 256
    // r17 form: typed flatMap (DeserializeToObject in the plan)
    def oldForm() = vocab.flatMap { case (cnt, sym) =>
        (0 until sym.length - 1).iterator.map(i => (sym(i), sym(i + 1), cnt)) }
      .toDF("a", "b", "cnt")
      .groupBy("a", "b").agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("a").asc, col("b").asc)
      .limit(pool)
    // r18 form: codegen explode over the same vocab
    def newForm() = vocab.toDF("cnt", "sym")
      .where(size(col("sym")) >= 2)
      .select(col("cnt"), explode(transform(sequence(lit(1), size(col("sym")) - 1),
        i => struct(element_at(col("sym"), i).as("a"),
          element_at(col("sym"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("a").asc, col("b").asc)
      .limit(pool)
    // fastest of 3: (seconds, the frame that ran, its rows)
    def fastest(form: () => DataFrame): (Double, DataFrame, Array[Row]) =
      (1 to 3).map { _ =>
        val df = form()
        var rows = Array.empty[Row]
        (time { rows = df.collect() }, df, rows)
      }.minBy(_._1)
    val (tOld, oldDf, oldRows) = fastest(() => oldForm())
    val (tNew, newDf, newRows) = fastest(() => newForm())
    println(s"[bpeplan] === pair-count BEFORE (typed flatMap) ===")
    println(oldDf.queryExecution.executedPlan.toString)
    println(s"[bpeplan] === pair-count AFTER (codegen explode) ===")
    println(newDf.queryExecution.executedPlan.toString)
    println(f"[bpeplan] before $tOld%.2f s, after $tNew%.2f s " +
      f"(x${tOld / tNew}%.2f), candidates identical: ${
        oldRows.map(_.toString).sameElements(newRows.map(_.toString))}")
  }

  /** Scheduler shape of one registered query: the (jobs, stages, tasks)
    * one run over `sfDir` starts, after an uncounted warm-up run. The
    * attribution tool for driver-pacing work: a composition
    * that runs N serial actions shows N jobs here however fast each is.
    * Only jobs submitted under this call's tag count, stages are those
    * that ran a task, and a marker job drains the listener bus before
    * the counts are read; the listener is removed afterwards. */
  def queryJobProfile(spark: SparkSession, name: String, sfDir: String): (Int, Int, Int) = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val key = "graft.diag.job_tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val tagged = ConcurrentHashMap.newKeySet[Int]()
    val ran = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach { t =>
          if (t == tag) { jobs.incrementAndGet(); e.stageIds.foreach(tagged.add(_)) }
          else if (t == s"$tag/marker") drained.countDown()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (tagged.contains(e.stageId)) { tasks.incrementAndGet(); ran.add(e.stageId) }
    }
    def run(): Unit = sink(graft.SparkEntry.queries(name)(spark, sfDir))
    run() // warm-up: untagged, so not counted
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try run() finally {
        sc.setLocalProperty(key, s"$tag/marker")
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty(key, null)
      }
      require(drained.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (jobs.get, ran.size, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
