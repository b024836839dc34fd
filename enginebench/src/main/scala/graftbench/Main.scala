package graftbench

import java.nio.file.{Files, Paths}

/** Entry point of the benchmark JVM. `run.py` starts it once per run
  * with `--role main`, and for the encode_bulk scaling leg once more per
  * core level with `--role scale`. Each role writes one JSON record to
  * `--out`; `run.py` turns the records into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val rec = a("role") match {
      case "main"  => new Run(a).run()
      case "scale" => ScaleLevel.run(a)
      case other   => throw new IllegalArgumentException(s"unknown role $other")
    }
    Files.writeString(Paths.get(a("out")), Json(rec))
  }
}

final case class Args(argv: Array[String]) {
  private val kv: Map[String, String] = argv.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
}

/** Host readings from /proc: steal share of CPU time between two
  * samples, one-minute load average, and this JVM's peak resident set. */
object Host {
  /** (total jiffies without guest time, steal jiffies), as ScalingLevel reads them. */
  def cpuStat(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._1 > from._1) 100.0 * (to._2 - from._2) / (to._1 - from._1) else 0.0

  def loadavg1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** Bytes this process has read through read(2) and friends, page cache included. */
  def rchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).toArray.map(_.toString)
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }
}
