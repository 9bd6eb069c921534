package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Verify}

/** The timed action: run the query's plan to completion through the
  * no-op sink, so the final sort and every projected column execute.
  * `count()` is not used: Catalyst prunes it to a row count (the sort,
  * the projections and any expression that cannot change the row count
  * disappear from the plan), so it would time a different query.
  */
object Materialize {
  def apply(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Closed-loop runner for one workload: one driver thread issues one
  * query at a time on `local[k]`.
  *
  *  1. set-up, timed from session creation: a session from
  *     [[graft.GraftSession.builder]] plus one untimed warm-up pass, which
  *     also builds the workload's stamped artifacts from nothing. It is
  *     the first work of a fresh JVM, so it includes the class loading,
  *     codegen and JIT warm-up;
  *  2. the correctness dump, untimed: every query written through
  *     [[graft.Verify.dumpQueries]], which `perfbench/oracle.py` compares
  *     against the DuckDB oracle;
  *  3. timed passes over the workload's query list, in a seed-permuted
  *     order, until `--seconds` have elapsed (at least two); with
  *     `--trace 1` passes alternate between untraced and traced
  *     (listeners on).
  *
  * Writes `report.json` (and `trace.json` when traced) into `--out`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --queries q_a:module,q_b:module [--cpus K]
  *   [--fresh-per-pass 0|1]
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(new File(path).toPath, json.writeValueAsString(value))

  private val heap = ManagementFactory.getMemoryMXBean

  /** Post-GC live heap. Spark's ContextCleaner drops the blocks of what a
    * collection found unreachable (checkpoints, broadcasts, shuffles) on
    * its own thread; a second collection after a pause frees them too, so
    * the figure does not depend on the cleaner's timing.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    heap.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The workload's own artifacts in `/tmp`: the engine keys stamped
    * artifacts and working stores on the sanitized data directory
    * (`/tmp/graft_<name>_<tag>[_<stamp>][.staging_xxxxxxxx|.ext]`), so a
    * data directory owned by the benchmark gives it a tag no other user
    * of the engine shares.
    */
  def ownArtifacts(dataDir: String): Seq[File] = {
    val tag = java.util.regex.Pattern.quote(dataDir.replaceAll("[^A-Za-z0-9]", "_"))
    val pat = java.util.regex.Pattern.compile(s"^graft_.+_$tag(_[A-Za-z0-9_]+)?(\\.[A-Za-z0-9_]+)?$$")
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty[File])
      .filter(f => pat.matcher(f.getName).matches()).toSeq
  }

  private def remove(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(remove))
    f.delete()
  }

  def sweepArtifacts(dataDir: String): Unit = ownArtifacts(dataDir).foreach(remove)

  /** Bytes on disk under `f`, not following links. */
  def bytesUnder(f: File): Long =
    if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def session(cpus: Int, localDir: String): SparkSession = {
    val s = GraftSession.builder("perfbench", shufflePartitions = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      // Bench's status-store retention: nothing reads the status API here
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "1")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Exec(query: String, module: String, pass: Int, traced: Boolean,
                        ok: Boolean, wallS: Double, callS: Double, actionS: Double,
                        heapMb: Double, codegen: Long, stats: Option[QueryStats])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val dataDir = new File(opt("data")).getAbsolutePath
    val outDir = new File(opt("out")).getAbsolutePath
    val cpus = opt.getOrElse("cpus", "4").toInt
    val freshPerPass = opt.getOrElse("fresh-per-pass", "0") == "1"
    val modules: Seq[(String, String)] = opt("queries").split(",").toSeq.map { t =>
      val Array(q, m) = t.split(":"); q -> m
    }
    val all = SparkEntry.queries
    val unknown = modules.map(_._1).filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val moduleOf = modules.toMap
    new File(outDir).mkdirs()
    val localDir = s"$outDir/spark-local"

    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(modules.map(_._1))

    def runQuery(spark: SparkSession, q: String): (Boolean, Double, Double) = {
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = all(q)(spark, dataDir)
        t1 = System.nanoTime()
        Materialize(df)
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
      val t2 = System.nanoTime()
      (ok, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    // 1. set-up
    sweepArtifacts(dataDir)
    val t0 = System.nanoTime()
    val spark = session(cpus, localDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warmUp = order().map { q =>
      val (ok, callS, actionS) = runQuery(spark, q)
      spark.catalog.clearCache()
      (q, ok, callS + actionS)
    }
    val setupFailures = warmUp.count(!_._2)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup: $setupS%.2f s (session $sessionS%.2f s)")

    // 2. correctness dump
    val dumpFailed = Verify.dumpQueries(spark, dataDir, s"$outDir/dump",
      all.filter { case (n, _) => moduleOf.contains(n) })

    // 3. timed passes
    val tracer = new Tracer(spark)
    val runSpan = tracer.reserveId()
    val runStart = System.currentTimeMillis()
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val tracedPass = traced && pass % 2 == 1
      if (freshPerPass) sweepArtifacts(dataDir)
      if (tracedPass) tracer.attach()
      val passSpan = tracer.reserveId()
      val passStart = System.currentTimeMillis()
      var passTime = 0.0
      order().foreach { q =>
        val group = s"perfbench-$pass-$q"
        val qSpan = tracer.reserveId()
        val stats = if (tracedPass) Some(tracer.begin(group, qSpan)) else None
        spark.sparkContext.setJobGroup(group, q, interruptOnCancel = true)
        val cg0 = org.apache.spark.perfbench.Internals.codegenCompiles
        val qStart = System.currentTimeMillis()
        val (ok, callS, actionS) = runQuery(spark, q)
        val wall = callS + actionS
        passTime += wall
        val codegen = org.apache.spark.perfbench.Internals.codegenCompiles - cg0
        spark.sparkContext.clearJobGroup()
        if (tracedPass) {
          tracer.drain()
          tracer.end(group)
          val callEnd = qStart + (callS * 1000).round
          val qEnd = qStart + (wall * 1000).round
          tracer.addSpan(Span(tracer.reserveId(), qSpan, "call", q, qStart, callEnd))
          tracer.addSpan(Span(tracer.reserveId(), qSpan, "action", q, callEnd, qEnd))
          tracer.addSpan(Span(qSpan, passSpan, "query", q, qStart, qEnd))
        }
        spark.catalog.clearCache()
        execs += Exec(q, moduleOf(q), pass, tracedPass, ok, wall, callS, actionS,
          liveHeapMb(), codegen, stats)
      }
      if (tracedPass) tracer.detach()
      tracer.addSpan(Span(passSpan, runSpan, "pass", s"pass $pass", passStart,
        System.currentTimeMillis()))
      passS += ((tracedPass, passTime))
      pass += 1
    }
    tracer.addSpan(Span(runSpan, 0L, "run", workload, runStart, System.currentTimeMillis()))

    val artifactBytes = ownArtifacts(dataDir).map(bytesUnder).sum
    // the inputs may be links to the tables: File.length follows them
    val inputBytes = Option(new File(dataDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

    spark.stop()
    sweepArtifacts(dataDir)

    val oracle = SparkEntry.oracleSql.filter { case (n, _) => moduleOf.contains(n) }
    write(s"$outDir/dump/oracle_sql.json", oracle)

    def statsJson(st: QueryStats): Map[String, Any] = Map(
      "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
      "job_union_s" -> st.jobUnionS, "executor_run_s" -> st.runMs / 1e3,
      "executor_cpu_s" -> st.cpuNs / 1e9, "gc_s" -> st.gcMs / 1e3,
      "fetch_wait_s" -> st.fetchWaitMs / 1e3, "task_failures" -> st.taskFailures,
      "shuffle_write_b" -> st.shuffleWriteB, "shuffle_read_b" -> st.shuffleReadB,
      "shuffle_records" -> st.shuffleRecords, "spill_b" -> st.spillB,
      "task_skew" -> st.taskSkew, "scan_b" -> st.scanB, "scan_rows" -> st.scanRows,
      "stamped_builds" -> st.stampedBuilds, "stamped_build_s" -> st.stampedBuildNs / 1e9,
      "stamped_written_b" -> st.stampedWrittenB, "artifact_reads" -> st.artifactReads.size,
      "output_b" -> st.outputB, "output_rows" -> st.outputRows, "barriers" -> st.barriers,
      "batches" -> st.batches, "empty_batches" -> st.emptyBatches,
      "trigger_s" -> st.triggerMs / 1e3, "add_batch_s" -> st.addBatchMs / 1e3,
      "state_rows" -> st.stateRows)
    val report = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "setup_failures" -> setupFailures,
      "warm_up_s" -> warmUp.map(w => w._1 -> w._3).toMap,
      "passes" -> passS.map { case (t, s) => Map("traced" -> t, "s" -> s) },
      "artifact_bytes" -> artifactBytes, "input_bytes" -> inputBytes,
      "dump_failed" -> dumpFailed,
      "executions" -> execs.map { e =>
        Map("query" -> e.query, "module" -> e.module, "pass" -> e.pass,
          "traced" -> e.traced, "ok" -> e.ok, "wall_s" -> e.wallS, "call_s" -> e.callS,
          "action_s" -> e.actionS, "heap_mb" -> e.heapMb, "codegen" -> e.codegen,
          "stats" -> e.stats.map(statsJson))
      })
    write(s"$outDir/report.json", report)
    if (traced) {
      val spans = tracer.spans.sortBy(_.id).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      }
      write(s"$outDir/trace.json", spans)
    }
  }
}
