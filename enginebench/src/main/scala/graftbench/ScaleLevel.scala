package graftbench

import graft.ScalingLevel
import graft.jobs.EncodeJob
import graft.model.Page

/** One core level of the encode_bulk scaling leg, in its own JVM started
  * with `-XX:ActiveProcessorCount=<cpus>` and an explicit GC. Same
  * protocol as [[graft.ScalingLevel]] (the engine's session recipe, a
  * JIT warm-up, fresh output per rep), but it
  * reports every rep so `run.py` can take the median. */
object ScaleLevel {
  def run(a: Args): Map[String, Any] = {
    val (cpus, parts, reps) = (a.int("cpus"), a.int("parts"), a.int("reps"))
    val work = a("work")
    val spark = ScalingLevel.session(cpus, parts)
    val input = spark.read.parquet(a("corpus")).as[Page](org.apache.spark.sql.Encoders.product[Page])
    val cfg = EncodeJob.Config(numPartitions = parts)
    // JIT warm-up: one untimed encode of the whole input
    EncodeJob.run(spark, input, s"$work/scale_warm_$cpus", cfg)
    val host0 = Host.cpuStat()
    val results = (1 to reps).map { i =>
      val dir = s"$work/scale_${cpus}_$i"
      ScalingLevel.rmrf(dir)
      EncodeJob.run(spark, input, dir, cfg)
    }
    val steal = Host.stealPct(host0, Host.cpuStat())
    spark.stop()
    Map(
      "cpus" -> cpus,
      "wall_s" -> results.map(_.wallNanos / 1e9),
      "raw_bytes" -> results.map(_.rawBytesThisRun),
      "enc_bytes" -> results.map(_.encBytesThisRun),
      "steal_pct" -> steal,
      "loadavg1" -> Host.loadavg1(),
      "peak_rss_mb" -> Host.peakRssMb())
  }
}
