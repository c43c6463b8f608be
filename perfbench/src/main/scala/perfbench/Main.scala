package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark process: one workload, one session, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <etl_totesys|gates_llm>
  *   --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  *   --launch-ms <epoch ms> --commit <id> --out <artifact.json>
  * perfbench.Main --record-goldens <file> --root <checkout>
  * perfbench.Main --profile-gates <file> --root <checkout>
  * }}}
  *
  * The last stdout line is the result object; the artifact holds the
  * environment stamp, per-gate/per-cycle detail and the trace. */
object Main {

  val Workloads = Seq("etl_totesys", "gates_llm")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize.toString
    val cores = Runtime.getRuntime.availableProcessors
    if (opts.contains("record-goldens")) tool(root, cores, opts("record-goldens"), Gates.recordGoldens)
    else if (opts.contains("profile-gates")) tool(root, cores, opts("profile-gates"), Gates.profile)
    else bench(opts, root, cores)
  }

  private def bench(opts: Map[String, String], root: String, cores: Int): Unit = {
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; expected one of ${Workloads.mkString(", ")}")
    val launchMs = opts.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val (loadStart, stealStart) = (Session.loadavg(), Session.stealS())
    val workDir = s"$root/.bench_build/perfbench/work-${ProcessHandle.current.pid}"
    val spark = Session.create(cores, workDir)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val run = new Run(spark, root, workDir, opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", launchMs)
    val out =
      try if (workload == "etl_totesys") Etl.run(run) else Gates.run(run)
      finally {
        run.heap.close()
        spark.stop()
        deleteTree(Paths.get(workDir))
      }

    // names and units come from BENCHMARK.json; a layer the workload
    // never enters reads 0, an end-to-end metric it lacks is an error
    val produced = out.endToEnd + ("setup_s" -> run.setupS)
    val e2e = declared(root, "end_to_end").map { case (n, u) =>
      n -> (produced.getOrElse(n, sys.error(s"$workload reports no $n")), u)
    }.toMap
    val perLayer = if (!run.trace) Map.empty[String, (Double, String)]
      else declared(root, "per_layer").map { case (n, u) => n -> (out.perLayer.getOrElse(n, 0.0), u) }.toMap
    val metrics = if (run.trace) perLayer else e2e
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds, "trace" -> run.trace,
      "nproc" -> cores, "master" -> s"local[$cores]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "commit" -> opts.getOrElse("commit", "unknown"),
      "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "loadavg_start" -> loadStart, "loadavg_end" -> Session.loadavg(),
      "cpu_steal_s" -> (Session.stealS() - stealStart))
    val artifact = stamp ++ Map(
      "attempted" -> run.attempted, "failed" -> run.failed,
      "fail_frac" -> run.failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failures, "end_to_end" -> e2e,
      "per_layer" -> perLayer.map { case (n, (v, _)) => n -> v },
      "setup_phases_s" -> (Map("session" -> sessionS) ++ run.phases),
      "detail" -> out.detail,
      "spans" -> (if (run.trace) run.tracer.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s"$workload-${run.seed}",
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)) else Nil))
    opts.get("out").foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), (Json.write(artifact) + "\n").getBytes("UTF-8"))
    }
    val result = Map(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println(Json.write(result))
    System.out.flush()
  }

  /** (name, unit) of each metric BENCHMARK.json declares under `key`. */
  def declared(root: String, key: String): Seq[(String, String)] =
    Json.read(Paths.get(root, "BENCHMARK.json")).get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** Runs `f(session, root)` in a session of its own and writes what
    * it returns to `file`. */
  private def tool(root: String, cores: Int, file: String,
      f: (org.apache.spark.sql.SparkSession, String) => String): Unit = {
    val workDir = s"$root/.bench_build/perfbench/work-${ProcessHandle.current.pid}"
    val spark = Session.create(cores, workDir)
    try Files.write(Paths.get(file), f(spark, root).getBytes("UTF-8"))
    finally {
      spark.stop()
      deleteTree(Paths.get(workDir))
    }
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
