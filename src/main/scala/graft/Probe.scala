package graft

/** Dev tool: time individual registered queries at SPARK_GRAFT_SF_DIR
  * (default sf0.1) with the same session config as [[Bench]], printing
  * per-query seconds and, with -explain, the formatted physical plan.
  *
  *   sbt "runMain graft.Probe q_dedup_ngram q_text_stats"
  *   sbt "runMain graft.Probe -explain q_dedup_ngram"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("-explain")
    val dumpDir = args.sliding(2).collectFirst { case Array("-dump", d) => d }
    val names = args.filterNot(a => a.startsWith("-") || dumpDir.contains(a))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val builder = LocalSession.builder(cpus)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — A/B config experiments without
    // a recompile (dev tool only; Bench stays the driver's contract)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; have ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
      if (explain) {
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan
        var md5s = 0; var hofs = 0; var nodes = 0
        plan.foreach { op =>
          op.expressions.foreach(_.foreach { e =>
            nodes += 1
            val n = e.getClass.getSimpleName
            if (n == "Md5") md5s += 1
            if (n == "ArrayTransform" || n == "ArrayAggregate" || n == "ArrayFilter") hofs += 1
          })
        }
        println(s"PLAN $name md5Exprs=$md5s hofExprs=$hofs exprNodes=$nodes")
      }
      val c0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      val cold = (System.nanoTime() - c0) / 1e9
      val warm = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"PROBE $name cold=$cold%.3f warm=$warm%.3f s")
      // -dump <dir>: write the POST-EXECUTION explain("formatted") (AQE
      // final plan) to <dir>/<query>.txt — the round's plan-evidence files
      dumpDir.foreach { d =>
        val qe = fn(spark, sfDir).queryExecution
        qe.toRdd.foreach(_ => ())
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name.txt"),
          qe.explainString(org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")).getBytes("UTF-8"))
      }
      // -stages: one warm run with a listener — per-stage wall/task
      // telemetry plus the planning-vs-execution split, the guide §1
      // "where does the second actually go" instrument
      if (args.contains("-stages")) {
        val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int, Long, Long)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = (for {s <- si.submissionTime; e <- si.completionTime} yield e - s)
              .getOrElse(-1L)
            stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(60), wall,
              si.numTasks, si.taskMetrics.executorCpuTime,
              si.taskMetrics.executorDeserializeCpuTime))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          val p0 = System.nanoTime()
          val qe = fn(spark, sfDir).queryExecution
          qe.executedPlan // force analysis + optimization + physical planning
          val planSec = (System.nanoTime() - p0) / 1e9
          val e0 = System.nanoTime()
          qe.toRdd.foreach(_ => ())
          val execSec = (System.nanoTime() - e0) / 1e9
          Thread.sleep(300) // let the listener bus drain (dev tool)
          import scala.jdk.CollectionConverters._
          val rows = stages.asScala.toSeq.sortBy(_._1)
          val stageSum = rows.map(_._2._2).sum / 1e3
          val cpuSum = rows.map(_._2._4).sum / 1e9
          val deserSum = rows.map(_._2._5).sum / 1e9
          println(f"STAGES $name plan=$planSec%.3f exec=$execSec%.3f " +
            f"stages=${rows.size} stageWallSum=$stageSum%.3f cpuSum=$cpuSum%.3f deserCpuSum=$deserSum%.3f")
          rows.foreach { case (id, (nm, wall, nt, cpu, deser)) =>
            println(f"  stage $id%4d ${wall / 1e3}%7.3f s cpu=${cpu / 1e9}%7.3f deser=${deser / 1e9}%7.3f tasks=$nt%3d  $nm")
          }
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      if (args.contains("-show")) fn(spark, sfDir).show(20, truncate = false)
    }
    spark.stop()
  }
}
