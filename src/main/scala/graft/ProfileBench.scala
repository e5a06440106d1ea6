package graft

import org.apache.spark.sql.{GraftJobBridge, SparkSession}

/** Measurement-only companion to [[Bench]] (guide §1: measure first).
  *
  * Runs the same queries with the same methodology, but additionally
  * records the number of Spark jobs each entry submits and the number of
  * tasks that end during it — at bench scale (sf0.1 is ~17 MB) per-entry
  * seconds are dominated by FIXED costs (driver round-trips, job and
  * task scheduling, parquet commits), so the job count is the profile:
  * an entry burning 8s over 300 jobs is driver-bound, one burning 8s
  * over 10 jobs is compute- or plan-bound, and one whose few jobs run
  * thousands of tasks is paying per-partition overhead.
  *
  * Never part of the driver contract; output goes to the path in
  * SPARK_GRAFT_PROFILE_OUT (default target/profile.json).
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // optional per-job attribution: SPARK_GRAFT_EVENTLOG=/dir enables the
    // event log, whose JobStart events carry the call site of every job
    val withLog = sys.env.get("SPARK_GRAFT_EVENTLOG").fold(builder) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    // A/B config experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").fold(withLog) { kvs =>
      kvs.split(';').filter(_.contains('=')).foldLeft(withLog) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("v_knn_cosine").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.onlySelected(n) }
    val results = selected.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val j0 = GraftJobBridge.jobsSubmitted(spark.sparkContext)
      val k0 = GraftJobBridge.tasksEnded(spark.sparkContext)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      val dj = GraftJobBridge.jobsSubmitted(spark.sparkContext) - j0
      val dk = GraftJobBridge.tasksEnded(spark.sparkContext) - k0
      (name, dt, dj, dk)
    }
    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val out = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT",
      "/root/repo/target/profile.json")
    val body = results.map { case (k, t, j, n) =>
      s"""  "$k": {"sec": ${s3(t)}, "jobs": $j, "tasks": $n}"""
    }.mkString(",\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{\n"sf": "$sfDir",\n"total_sec": ${s3(results.map(_._2).sum)},\n"queries": {\n$body\n}\n}\n""")
    println(s"[profile] wrote $out")
    spark.sparkContext.setLogLevel("ERROR")
    Caches.releaseAll()
    spark.stop()
  }
}
