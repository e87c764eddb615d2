package graft.tools

import graft.{GraftSession, SparkEntry}

/** Builder-side diagnostic: per-query wall time in isolation vs after the
  * dedup queries, to locate driver-side planning pathologies. */
object Diag {
  /** Run `body` with a job listener attached; print every job's wall
    * time, inter-job gap, stage/task counts, then return body's result. */
  private def profileJobs[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    import org.apache.spark.scheduler._
    import scala.collection.mutable
    case class J(var start: Long = 0L, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = jobs.synchronized(jobs.getOrElseUpdate(e.jobId, J()))
        j.start = e.time
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val out = body
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    var prevEnd = 0L
    jobs.foreach { case (id, j) =>
      val gap = if (prevEnd == 0) 0 else j.start - prevEnd
      prevEnd = j.end
      println(f"[diag] job $id%3d: ${(j.end - j.start) / 1e3}%6.3f s  " +
        f"gap ${gap / 1e3}%6.3f s  stages ${j.stages}%2d tasks ${j.tasks}%4d")
    }
    println(s"[diag] ${jobs.size} jobs")
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // `jobs <query>`: run one query twice (cold discarded) and print the
    // warm run's per-job wall times + stage/task counts from a listener —
    // locates scheduling overhead vs real compute in multi-job trainers.
    if (args.headOption.contains("jobs")) {
      val name = args(1)
      time(name) // warmup (codegen, scans)
      val t = profileJobs(spark) { time(name) }
      println(f"[diag] warm $name: $t%.2f s")
      spark.stop(); return
    }
    // args = query names; each runs twice (cold, warm). No args → the
    // historical probe set.
    val queries =
      if (args.nonEmpty) args.toSeq
      else Seq("curation_pipeline", "dedup_ngram_jaccard",
        "dedup_incremental", "dedup_minhash_lsh", "dedup_clusters",
        "dedup_shared_spans", "ann_topk_ivf", "ann_topk_pq",
        "text_decontaminate")
    queries.foreach(q => println(f"[diag] cold $q: ${time(q)}%.2f s"))
    queries.foreach(q => println(f"[diag] warm $q: ${time(q)}%.2f s"))
    spark.stop()
  }
}
