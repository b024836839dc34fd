package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.EncodeJob
import graft.model.Page

/** One measured parallelism level of the scaling bench, run in its OWN JVM
  * (spawned by [[ScalingBench]]): JIT-warms with a 10% encode pass, then
  * runs EncodeJob `reps` times on fresh output dirs and prints the best
  * run as one JSON line. Fresh-JVM-per-level isolates levels from each
  * other's heap aging and JIT state — measurement hygiene, not semantics. */
object ScalingLevel {

  def session(cpus: Int, parts: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", math.max(cpus, parts))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rmrf(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      // never FOLLOW a symlink: File.isDirectory resolves links, so
      // recursing through one would delete the TARGET's contents — rm -rf
      // unlinks the link itself, and so does this (delete() below removes
      // the link, not the target)
      val children =
        if (!java.nio.file.Files.isSymbolicLink(f.toPath) && f.isDirectory) f.listFiles()
        else null
      // null-safe: listFiles() returns null for unreadable or
      // concurrently-vanishing dirs
      if (children != null) children.foreach(rec)
      f.delete()
    }
    rec(new java.io.File(path))
  }

  def main(args: Array[String]): Unit = {
    val Array(pagesPath, work, cpusS, partsS, repsS) = args.take(5)
    val (cpus, parts, reps) = (cpusS.toInt, partsS.toInt, repsS.toInt)
    val encDir = s"$work/enc_$cpus"

    val spark = session(cpus, parts)
    import spark.implicits._
    val input = spark.read.parquet(pagesPath).as[Page]

    // JIT warmup inside THIS jvm: full pipeline on a 10% subset
    val warmDir = s"$work/warm_$cpus"
    rmrf(warmDir)
    val n = input.count()
    // Long-safe: a bare (n / 10).toInt wraps for corpora past ~21.4B rows
    EncodeJob.run(spark, input.limit(math.min(n / 10, Int.MaxValue.toLong).toInt.max(1)), warmDir,
      EncodeJob.Config(numPartitions = parts))

    // hypervisor steal makes identical runs swing up to 4x on this shared
    // VM and is INVISIBLE in loadavg — measure it per rep from /proc/stat
    // so a contaminated measurement identifies itself in the log
    def cpuStat(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // fields after the "cpu" label: user nice system idle iowait irq
        // softirq steal guest guest_nice — steal is index 7. guest/
        // guest_nice are excluded from the total: guest time is already
        // counted inside user/nice, so including it would double-count.
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.take(8).sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    }

    val runs = (1 to reps).map { rep =>
      rmrf(encDir)
      val (t0, s0) = cpuStat()
      val r = EncodeJob.run(spark, input, encDir, EncodeJob.Config(numPartitions = parts))
      val (t1, s1) = cpuStat()
      val stealPct = if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0
      System.err.println(f"[level] local[$cpus] rep$rep: wall ${r.wallNanos / 1e9}%.2f s " +
        f"(bounds ${r.boundsNanos / 1e9}%.2f, encode ${r.encodeNanos / 1e9}%.2f, " +
        f"manifest ${r.manifestNanos / 1e9}%.2f, steal $stealPct%.1f%%)")
      (r, stealPct)
    }
    val (best, bestSteal) = runs.minBy(_._1.wallNanos)
    spark.stop()

    // machine-parsed by the parent: numbers must be locale-ROOT (a
    // comma-decimal default locale would make the digit regex silently
    // read 12,345 as 12)
    val num = JsonEscape.num _
    println(s"""{"cpus":$cpus,"wallSec":${num(best.wallNanos / 1e9, 3)},"encodeSec":${num(best.encodeNanos / 1e9, 3)},"rawBytes":${best.rawBytesThisRun},"encBytes":${best.encBytesThisRun},"flBaselineBytes":${best.flBaselineBytes},"gbps":${num(best.rawBytesThisRun / 1e9 / (best.wallNanos / 1e9), 4)},"stealPct":${num(bestSteal, 1)}}""")
  }
}
