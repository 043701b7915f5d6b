package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, FrameAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}

import graft.{Engine, SparkEntry}

/** Closed-loop, single-client workload runner.
  *
  * One JVM, one fresh `local[N]` session. Every registered query whose
  * name is in the workload runs one at a time in name order (builders
  * before their riders), split into three outside-in spans:
  *
  *  - build: `fn(spark, dir)` (query construction, eager
  *    materializations and streaming drains included);
  *  - plan: `queryExecution.executedPlan`;
  *  - exec: `queryExecution.toRdd.count()`.
  *
  * After the spans (untimed) the output is digested: row count plus an
  * order-insensitive sum of per-row XXH64 hashes. The first (cold)
  * pass also writes every output as parquet so the DuckDB oracle can
  * check it; later passes must reproduce the cold digest exactly.
  *
  * Usage: PerfBench <args.properties>; writes a JSON report to the path
  * named in the args. With `trace` set, a [[Tracer]] listens to the
  * Spark, streaming and codegen metrics and the report carries the
  * per-layer figures of each pass.
  */
object PerfBench {

  final case class Args(data: String, out: String, queries: Seq[String],
                        cpus: Int, warmPasses: Int, seconds: Double,
                        trace: Boolean,
                        checkDir: String, localDir: String,
                        wrongDigest: Option[String])

  final case class QueryRun(name: String, buildS: Double, planS: Double,
                            execS: Double, wallS: Double, checkS: Double,
                            rows: Long,
                            digest: String, error: Option[String])

  /** A fixed single-thread integer loop: the host-speed reference
    * recorded in every run so drift between hours shows in the
    * artifact. */
  def calibrate(): Double = {
    def loop(): Long = {
      var x = 88172645463325252L
      var s = 0L
      var i = 0
      while (i < 60000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        s += x & 0xff
        i += 1
      }
      s
    }
    loop() // JIT warm-up
    val samples = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      if (loop() == 42L) println("") // keeps the loop's result live
      (System.nanoTime() - t0) / 1e9
    }
    samples.sorted.apply(1)
  }

  /** Arguments come as a java.util.Properties file. */
  private def parseArgs(path: String): Args = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    def s(k: String) = Option(p.getProperty(k))
      .getOrElse(sys.error(s"missing argument $k"))
    Args(s("data"), s("out"), s("queries").split(",").toSeq.filter(_.nonEmpty),
      s("cpus").toInt, s("warm_passes").toInt, s("seconds").toDouble,
      s("trace") == "1",
      s("check_dir"), s("local_dir"),
      Option(p.getProperty("wrong_digest")).filter(_.nonEmpty))
  }

  /** Row count and order-insensitive content digest of a query output,
    * computed on the executed plan's rows. */
  def digest(df: DataFrame): (Long, String) = {
    val schema = df.queryExecution.executedPlan.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      lazy val proj = UnsafeProjection.create(schema)
      var n = 0L
      var sum = 0L
      var mix = 0L
      it.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case o => proj(o)
        }
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
        n += 1
        sum += h
        mix += java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L, 31)
      }
      Iterator((n, sum, mix))
    }.collect()
    val n = parts.map(_._1).sum
    (n, f"${parts.map(_._2).sum}%016x${parts.map(_._3).sum}%016x")
  }

  private def flip(d: String): String = (if (d.head == '0') "1" else "0") + d.tail

  /** Conf keys that name this process or its paths, left out of the
    * recorded conf so two runs' confs compare equal. */
  private val Volatile = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.executor.id", "spark.local.dir", "spark.sql.warehouse.dir")

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
      .config("spark.sql.warehouse.dir", a.localDir + "/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    Engine.withScratch(b).getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parseArgs(argv(0))
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a.trace) Some(Tracer.install(spark)) else None

    val tw0 = System.nanoTime()
    graft.sources.Sources.testTables.foreach { t =>
      graft.sources.Sources.table(spark, a.data, t).count()
    }
    val sourcesWarmS = (System.nanoTime() - tw0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // a selector is a query name, or a name prefix ending in '*'
    val all = SparkEntry.queries
    val names = a.queries.flatMap { q =>
      val hit = if (q.endsWith("*")) all.keys.filter(_.startsWith(q.init)).toSeq
        else all.keys.filter(_ == q).toSeq
      require(hit.nonEmpty, s"no registered query matches $q")
      hit
    }.distinct.sorted
    val selected = names.map(n => n -> all(n))

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val memBean = ManagementFactory.getMemoryMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val expected = mutable.Map.empty[String, (Long, String)]

    // heap in use once garbage is gone: full GCs until the reading stops
    // falling (Spark's cleaner frees broadcast and checkpoint blocks
    // asynchronously, after a GC drops their last reference)
    def settledHeapMb(): Double = {
      def used(): Double = {
        System.gc()
        Thread.sleep(100)
        memBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var prev = used()
      var cur = used()
      var i = 0
      while (cur < prev * 0.98 && i < 5) { prev = cur; cur = used(); i += 1 }
      cur.min(prev)
    }

    def runPass(pass: Int): Map[String, Any] = {
      val cold = pass == 0
      tracer.foreach(_.beginPass())
      val cpu0 = os.getProcessCpuTime
      val (gc0, jit0) = (gcMs(), jitMs())
      val t0 = System.nanoTime()
      val runs = selected.map { case (name, fn) =>
        val sc = spark.sparkContext
        var df: DataFrame = null
        var rows = -1L
        var err: Option[String] = None
        // three contiguous spans inside an independently timed wall
        val spans = Array(0.0, 0.0, 0.0)
        def span[T](i: Int, phase: String)(body: => T): T = {
          sc.setLocalProperty(Tracer.PhaseKey, phase)
          val s0 = System.nanoTime()
          try body finally spans(i) = (System.nanoTime() - s0) / 1e9
        }
        val w0 = System.nanoTime()
        try {
          df = span(0, "build")(fn(spark, a.data))
          span(1, "plan")(df.queryExecution.executedPlan)
          rows = span(2, "exec")(df.queryExecution.toRdd.count())
        } catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        }
        val wallS = (System.nanoTime() - w0) / 1e9
        // ---- untimed: output check ----
        val tc = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "check")
        var dig = ""
        if (err.isEmpty) {
          try {
            tracer.foreach(_.noteStorage(spark))
            val (n, d) = digest(df)
            dig = d
            if (n != rows)
              err = Some(s"digest saw $n rows, exec counted $rows")
            else if (cold) {
              // written from the executed plan's rows: shuffle outputs
              // are reused, so only the final stage runs again
              FrameAccess.ofRows(spark, df.queryExecution.toRdd, df.schema)
                .coalesce(1).write.mode("overwrite")
                .parquet(s"${a.checkDir}/$name")
              // a planted wrong expectation must surface as a failed
              // operation in every later pass
              expected(name) = (n, if (a.wrongDigest.contains(name)) flip(d) else d)
            } else expected.get(name) match {
              case Some((n0, d0)) if n0 == n && d0 == d => ()
              case Some((n0, d0)) =>
                err = Some(s"output differs from the cold pass: rows $n vs $n0, digest $d vs $d0")
              case None =>
                err = Some("no cold-pass output to compare with")
            }
          } catch {
            case e: Throwable =>
              err = Some(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
          }
        }
        sc.setLocalProperty(Tracer.PhaseKey, null)
        tracer.foreach(_.noteShared(Engine.sharedKeys()))
        Engine.tickShared()
        Engine.evictSharedIdle(25)
        Engine.unpersistStale(spark)
        QueryRun(name, spans(0), spans(1), spans(2), wallS,
          (System.nanoTime() - tc) / 1e9, rows, dig, err)
      }
      val spanSum = runs.map(_.wallS).sum
      val passWall = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val (gcS, jitS) = ((gcMs() - gc0) / 1e3, (jitMs() - jit0) / 1e3)
      // retained heap, with the pass's shared frames and checkpoints
      // still live
      val heapMb = settledHeapMb()
      val layers = tracer.map(_.endPass(spark)).getOrElse(Map.empty)
      Engine.clearShared()
      Engine.unpersistStale(spark)
      System.gc()
      Map(
        "pass" -> pass, "wall_s" -> spanSum,
        "pass_wall_s" -> passWall, "cpu_s" -> cpuS, "gc_s" -> gcS, "jit_s" -> jitS,
        "heap_retained_mb" -> heapMb, "layers" -> layers,
        "queries" -> runs.map { r =>
          Map("name" -> r.name, "build_s" -> r.buildS, "plan_s" -> r.planS,
            "exec_s" -> r.execS, "wall_s" -> r.wallS, "check_s" -> r.checkS, "rows" -> r.rows,
            "digest" -> r.digest, "error" -> r.error.orNull)
        })
    }

    // the cold pass, then at least `warmPasses` warm passes, more while
    // the run is shorter than `seconds`
    val m0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(runPass(0))
    while (passes.size <= a.warmPasses ||
        (System.nanoTime() - m0) / 1e9 < a.seconds)
      passes += runPass(passes.size)
    val calib = calibrate()
    val rt = Runtime.getRuntime
    val report = Map(
      "setup_s" -> setupS,
      "sources_warm_s" -> sourcesWarmS,
      "host" -> Map(
        "calib_s" -> calib,
        "nproc" -> rt.availableProcessors,
        "max_heap_mb" -> rt.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "spark_conf" -> spark.conf.getAll.filterNot(kv => Volatile(kv._1)),
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => names.contains(kv._1)),
      "passes" -> passes)
    Files.write(Paths.get(a.out),
      Json.render(report).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
