package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, SparkEntry}

/** The benchmark's JVM side. `run.py` writes a plan (one `key value...`
  * line per setting, one `pass op op ...` line per pass: the first
  * `warm_ups` are untimed) and reads back the records this writes to
  * `<out>/results.tsv` (and `<out>/spans.json` when traced).
  *
  *   Runner run <plan>
  *   Runner oracle <out_file> <key>...
  */
object Runner {

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("run") => run(args(1))
      case Some("oracle") =>
        val w = new PrintWriter(args(1), "UTF-8")
        args.drop(2).foreach { k =>
          SparkEntry.oracleSql.get(k).foreach { sql =>
            w.println(k + "\t" + sql.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t"))
          }
        }
        w.close()
      case _ =>
        System.err.println("usage: Runner run <plan> | oracle <out> <key>...")
        sys.exit(2)
    }
    sys.exit(0)
  }

  private final case class Plan(settings: Map[String, String], passes: Seq[Seq[String]]) {
    def apply(k: String): String = settings(k)
    def int(k: String): Int = settings(k).toInt
  }

  private def readPlan(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    try {
      val lines = src.getLines().map(_.trim).filter(_.nonEmpty).toSeq
      val passes = lines.filter(_.startsWith("pass ")).map(_.split(" ").toSeq.drop(1))
      val settings = lines.filterNot(_.startsWith("pass ")).map { l =>
        val i = l.indexOf(' ')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
      Plan(settings, passes)
    } finally src.close()
  }

  private def clean(s: String): String =
    String.valueOf(s).replaceAll("[\t\r\n]+", " ").take(300)

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / (1024.0 * 1024.0)
    val src = Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def run(planPath: String): Unit = {
    val plan = readPlan(planPath)
    val out = new File(plan("out"))
    out.mkdirs()
    val res = new PrintWriter(new File(out, "results.tsv"), "UTF-8")
    def rec(fields: Any*): Unit = res.println(fields.map(f => clean(String.valueOf(f))).mkString("\t"))
    val dataDir = plan("data")
    val cpus = plan("cpus")
    val traced = plan.int("trace") == 1
    val seconds = plan("seconds").toDouble
    val confs = plan.settings.get("conf").toSeq.flatMap(_.split(" ")).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }

    rec("calib", "start", Kernels.calibrationMs())

    // set-up, cold: session start and every table loaded through
    // `Tables`; `run.py` adds the first warm-up pass to it
    val t0 = System.nanoTime()
    val spark = Engine.session(cpus, cpus)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.sources.Tables.names.foreach(n => graft.sources.Tables(spark, dataDir, n))
    rec("setup", (System.nanoTime() - t0) / 1e9)
    val probe = new Probe(spark)
    val scratch = new File(out, "scratch")

    def dropDeadBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    var opId = 0
    def runPass(p: Int, ops: Seq[String], phase: String, trace: Boolean): Unit = {
      probe.enabled = trace
      val storage = new StorageOps(spark, dataDir,
        new File(scratch, s"tl/p$p").getAbsolutePath, new File(scratch, s"ipc/p$p").getAbsolutePath)
      var allOk = true
      val cpu0 = processCpuS()
      val w0 = System.nanoTime()
      for ((op, idx) <- ops.zipWithIndex) {
        opId += 1
        val id = opId
        val s0 = probe.nowUs()
        val t0 = System.nanoTime()
        var t1 = t0
        var version = -1
        val attempt = scala.util.Try {
          probe.around(id) {
            val df = op.split(":", 2) match {
              case Array("key", name) => SparkEntry.queries(name)(spark, dataDir)
              case _ =>
                val o = storage.run(op)
                version = o.version
                o.result.orNull
            }
            t1 = System.nanoTime()
            if (df == null) (null, Array.empty[Row]) else (df, df.collect())
          }
        }
        val t2 = System.nanoTime()
        val s2 = probe.nowUs()
        val (ok, digest, rows, err) = attempt match {
          case scala.util.Success((df: DataFrame, rows)) => (true, Digest.of(df.schema, rows), rows.length, "")
          case scala.util.Success((_, rows)) => (true, "-", rows.length, "")
          case scala.util.Failure(e) => (false, "-", 0, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val s3 = probe.nowUs()
        if (trace) {
          probe.span(id, "op", s0, s3)
          probe.span(id, "build", s0, s0 + (t1 - t0) / 1000)
          probe.span(id, "execute", s0 + (t1 - t0) / 1000, s2)
          probe.span(id, "verify", s2, s3)
        }
        if (!ok) allOk = false
        rec("op", p, idx, id, phase, if (trace) 1 else 0, op,
          if (ok) 1 else 0, (t2 - t0) / 1e9, rows, digest, version, err)
        dropDeadBlocks()
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = processCpuS() - cpu0
      if (ops.exists(!_.startsWith("key:"))) Seq("none", "lz4", "zstd").foreach { c =>
        val b = storage.ipcBytes(c)
        if (b > 0) rec("ipc_bytes", p, c, b)
      }
      rec("pass", p, phase, if (trace) 1 else 0, wall, cpu, if (allOk) 1 else 0)
      deleteRecursively(new File(scratch, s"tl/p$p"))
      deleteRecursively(new File(scratch, s"ipc/p$p"))
      probe.enabled = false
    }

    val warmUps = plan.int("warm_ups")
    (0 until warmUps).foreach(w => runPass(w, plan.passes(w), "w", trace = false))

    // every planned pass runs; `seconds` only caps the measuring time
    val m0 = System.nanoTime()
    val timed = plan.passes.size - warmUps
    var i = 0
    while (i < timed && (i == 0 || (System.nanoTime() - m0) / 1e9 < seconds)) {
      // a traced run alternates traced and untraced passes, so the
      // tracing overhead is measured in the same window
      runPass(warmUps + i, plan.passes(warmUps + i), "m", trace = traced && i % 2 == 0)
      if (i + 1 == (timed + 1) / 2) rec("calib", "middle", Kernels.calibrationMs())
      i += 1
    }
    val p = warmUps + i

    if (traced) {
      // keys outside the workload, run once for their named
      // `Dataset.observe` counts (useful work per result row)
      runPass(p, plan("probe").split(" ").toSeq, "probe", trace = true)
      Kernels.run(spark, dataDir, plan("kernel_ms").toDouble).foreach { case (k, v) => rec("layer", k, v) }
      probe.counters.foreach { case (op, m) => m.foreach { case (k, v) => rec("ctr", op, k, v) } }
      probe.observed.foreach { case ((op, name), v) => rec("obs", op, name, v) }
      val w = new PrintWriter(new File(out, "spans.json"), "UTF-8")
      w.println(probe.spans.map { s =>
        s"""{"op":${s.op},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
      }.mkString("[\n", ",\n", "\n]"))
      w.close()
    }
    probe.detach()
    rec("calib", "end", Kernels.calibrationMs())
    rec("rss_mb", peakRssMb())
    res.close()
    deleteRecursively(scratch)
    spark.stop()
  }
}
