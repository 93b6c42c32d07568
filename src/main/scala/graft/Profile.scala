package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticPages
import graft.pipeline.{ConnectedComponents, DedupConfig, DedupPipeline, DedupStages}

/** Per-stage wall-clock breakdown of the dedup pipeline on the synthetic
  * corpus — the tuning loop for the scaling-efficiency work. */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "120000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = DedupConfig()

    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2fs  ($r)")
    }

    // plan review mode: dump formatted physical plans of the stages
    // DedupPipeline.run executes, over a real parquet input
    // (pushdown/pruning visible only there)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-explain").toString
      SyntheticPages.generate(spark, 1000).write.mode("overwrite").parquet(dir)
      val pw = DedupStages.withIds(spark.read.parquet(dir))
      val sigs = DedupStages.leanSignatures(pw, cfg)
      println("=== lean signatures over parquet (expect ReadSchema without html) ===")
      sigs.explain("formatted")
      println("=== candidatesFromProbes over fused probeRows ===")
      val (cand, _) = DedupStages.candidatesFromProbes(DedupStages.probeRows(pw, cfg), sigs, cfg)
      cand.explain("formatted")
      println("=== verified over the lean side ===")
      val verSide = sigs.select("doc_id", "url", "source", "lang", "content_hash")
        .join(pw.select("doc_id", "text"), "doc_id")
      DedupStages.verified(cand, verSide, cfg).explain("formatted")
      spark.stop(); return
    }

    // serial-component mode: run the pipeline repeatedly over a staged
    // parquet corpus with a job listener; the wall NOT covered by any
    // Spark job (gaps = driver planning/AQE/collect/broadcast) is the
    // Amdahl serial term that caps measured N→4N scaling efficiency
    // (eff = lo/(4·hi) with hi = S + W/8: at 400k docs S ≈ 10 s of the
    // ~48 s 8-core steady wall). Prints per-job walls of the last run.
    // A missing directory is first filled with SPARK_GRAFT_SCALE_N
    // synthetic pages.
    sys.env.get("SPARK_GRAFT_PROFILE_SERIAL").foreach { dir =>
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        SyntheticPages.generate(spark, n).write.parquet(dir)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
      val taskMs = new java.util.concurrent.atomic.AtomicLong(0) // executorRunTime
      val cpuMs = new java.util.concurrent.atomic.AtomicLong(0)  // executorCpuTime
      val stageTask = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
      val stageShuffle = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(j.jobId, (j.time, -1L,
            Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val prev = jobs.get(j.jobId)
          if (prev != null) jobs.put(j.jobId, (prev._1, j.time, prev._3))
        }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
            cpuMs.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
            stageTask.merge(t.stageId, (t.taskMetrics.executorRunTime, 1, ""),
              (a, b) => (a._1 + b._1, a._2 + b._2, a._3))
            stageShuffle.merge(t.stageId,
              (t.taskMetrics.shuffleWriteMetrics.bytesWritten,
               t.taskMetrics.shuffleReadMetrics.totalBytesRead,
               t.taskMetrics.inputMetrics.bytesRead),
              (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
          }
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          // name the stage by its SQL-operator scopes (the generic AQE
          // callsite tells us nothing about which operator ran): the RDD
          // scope chain carries WholeStageCodegen/Exchange/Generate names
          val scopes = sc.stageInfo.rddInfos
            .flatMap(_.scope.map(_.name)).distinct.mkString(" | ")
          val label = if (scopes.nonEmpty) scopes else sc.stageInfo.name
          stageTask.merge(sc.stageInfo.stageId, (0L, 0, label),
            (a, b) => (a._1, a._2, if (b._3.nonEmpty) b._3 else a._3))
        }
      })
      for (i <- 1 to 3) {
        jobs.clear(); stageTask.clear(); stageShuffle.clear(); taskMs.set(0); cpuMs.set(0)
        val t0 = System.nanoTime()
        val r = DedupPipeline.run(spark, spark.read.parquet(dir), cfg)
        r.merged.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // dump executed plans BEFORE unpersist: dropping the caches makes a
        // later queryExecution re-plan without InMemoryRelation substitution
        // and the dump would misleadingly show stage subtrees inlined
        if (i == 3) {
          val planDir = "/tmp/graft-serial-plans"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
          for ((nm, df) <- Seq("candidate_pairs" -> r.candidatePairs,
              "verified_pairs" -> r.verifiedPairs, "merged" -> r.merged))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(planDir, s"$nm.txt"),
              df.queryExecution.executedPlan.toString)
        }
        r.unpersist()
        import scala.jdk.CollectionConverters._
        val done = jobs.asScala.values.filter(_._2 > 0).toSeq.sortBy(_._1)
        val jobSum = done.map { case (s, e, _) => (e - s) / 1e3 }.sum
        // covered wall: union of job intervals (jobs can overlap under AQE)
        var covered = 0.0; var curS = -1L; var curE = -1L
        for ((s, e, _) <- done) {
          if (s > curE) { if (curE > 0) covered += (curE - curS) / 1e3; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        if (curE > 0) covered += (curE - curS) / 1e3
        val util = taskMs.get / 1e3 / (cpus * wall)
        val cpuUtil = cpuMs.get / 1e3 / (cpus * wall)
        println(f"[serial] run=$i wall=$wall%.2fs jobs=${done.size} jobSum=$jobSum%.2fs covered=$covered%.2fs gap=${wall - covered}%.2fs taskUtil=$util%.2f cpuUtil=$cpuUtil%.2f")
        if (i == 3) {
          done.foreach { case (s, e, d) =>
            println(f"[serial-job] ${(e - s) / 1e3}%7.2fs  ${d.take(90)}")
          }
          import scala.jdk.CollectionConverters._
          stageTask.asScala.toSeq.sortBy(-_._2._1).take(15).foreach {
            case (id, (ms, nt, name)) =>
              val (sw, sr, in) = Option(stageShuffle.get(id)).getOrElse((0L, 0L, 0L))
              println(f"[serial-stage] $id%4d ${ms / 1e3}%8.2f core-s $nt%4d tasks " +
                f"sw=${sw / 1e6}%.0fMB sr=${sr / 1e6}%.0fMB in=${in / 1e6}%.0fMB  ${name.take(300)}")
          }
        }
      }
      spark.stop(); return
    }

    val pages = SyntheticPages.generate(spark, n)
    t("warm-gen-count") { pages.count() }
    // lean path — what DedupPipeline.run actually executes
    val pw = DedupStages.withIds(pages).cache()
    t("pages_ids") { pw.count() }
    val sigs = DedupStages.leanSignatures(pw, cfg).cache()
    t("lean_signatures") { sigs.count() }
    t("probe_rows") { DedupStages.probeRows(pw, cfg).count() }
    val (cand, _) = DedupStages.candidatesFromProbes(
      DedupStages.probeRows(pw, cfg), sigs, cfg)
    val candC = cand.cache()
    t("candidates") { candC.count() }
    val verSide = sigs.select("doc_id", "url", "source", "lang", "content_hash")
      .join(pw.select("doc_id", "text"), "doc_id")
    val ver = DedupStages.verified(candC, verSide, cfg).cache()
    t("verified") { ver.count() }
    t("cc_clusters") { DedupStages.clusters(ver).count() }
    t("full_pipeline_again") {
      val r = DedupPipeline.run(spark, SyntheticPages.generate(spark, n), cfg)
      val x = r.verifiedPairs.count() + r.clusters.count() + r.merged.count()
      r.unpersist(); x
    }
    spark.stop()
  }
}
