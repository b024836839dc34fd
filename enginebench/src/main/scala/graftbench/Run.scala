package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ScalingLevel
import graft.jobs.{DecodeJob, EncodeJob, VerifyJob}
import graft.model.Page
import graft.sources.WebtextGen
import graft.streaming.StreamingEncode

/** One read of the read_mix workload. `param` picks the host, url or hour. */
final case class Read(kind: String, param: String) {
  def apply(df: DataFrame): DataFrame = kind match {
    case "full" | "typed" => df
    case "project"        => df.select("url", "lang")
    case "host"           => df.where(col("url") >= s"https://$param/" && col("url") < s"https://${param}0")
    case "point"          => df.where(col("url") === param)
    case "ts"             =>
      val (lo, hi) = Read.hour(param.toInt)
      df.where(col("warc_ts") >= lit(lo) && col("warc_ts") < lit(hi))
  }

  /** Columns the oracle compares for this read. */
  def columns: Seq[String] = if (kind == "project") Seq("url", "lang") else Read.AllColumns
}

object Read {
  /** WebtextGen's timestamp base: 2025-07-04T00:00:00Z, one second per docId. */
  val BaseMillis = 1751587200000L

  def hour(h: Int): (java.sql.Timestamp, java.sql.Timestamp) =
    (new java.sql.Timestamp(BaseMillis + h * 3600000L), new java.sql.Timestamp(BaseMillis + (h + 1) * 3600000L))

  /** One round of the mix: what share of reads each kind gets. */
  val Round: Seq[String] =
    Seq("full", "full", "typed", "typed", "project", "project", "host", "host", "point", "point", "ts", "ts")

  val AllColumns: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")
}

/** The `main` role: set up, run one workload as a closed loop with one
  * client, check every output, and return the run record.
  *
  * With `--trace 1` the loop runs twice as long with every other
  * operation traced, so the record carries the tracing overhead;
  * afterwards one round of every layer the workload itself does not call
  * (encode, the read kinds, streaming drops) runs traced, so every
  * per-layer metric is measured in every traced run. */
final class Run(a: Args) {
  private val workload = a("workload")
  private val seed = a.long("seed")
  private val seconds = a.double("seconds")
  private val traced = a.int("trace") == 1
  private val work = a("work")
  private val cpus = a.int("cpus")
  private val parts = a.int("parts")
  private val docs = a.long("docs")
  private val setups = a.int("setups")
  private val dropCount = a.int("drops")

  private val corpus = s"$work/corpus"
  private val cfg = EncodeJob.Config(numPartitions = parts)
  private val pageEnc = Encoders.product[graft.model.Page]

  private val tracer = new Tracer
  private val jobs = new JobListener
  private val streams = new StreamListener
  private val streamRuns = mutable.Map.empty[String, Long]
  private val readSpans = mutable.ArrayBuffer.empty[(Span, String, Read)]

  private val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val rec = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0
  private var phase = "plain"

  private def log(msg: String): Unit = System.err.println(s"[enginebench] $msg")

  private val born = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[(String, Double)]

  /** Record that the run's `name` part ended, for the run-time breakdown. */
  private def mark(name: String): Unit = {
    val at = (System.nanoTime() - born) / 1e9
    phases += name -> (at - phases.map(_._2).sum)
  }

  /** One timed operation of the closed loop; a throw counts as failed. */
  private def op(kind: String)(body: => Map[String, Any]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val extra = tracer.span(s"bench.$kind")(_ => body)
      samples += Map("kind" -> kind, "phase" -> phase, "ms" -> (System.nanoTime() - t0) / 1e6) ++ extra
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"op $kind failed: $e")
        e.printStackTrace()
    }
  }

  /** A correctness check; `body` returns an error, or None when it holds. */
  private def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    val err = try tracer.span("bench.check")(_ => body) catch { case NonFatal(e) => Some(e.toString) }
    if (err.isDefined) { failed += 1; log(s"check $name FAILED: ${err.get}") }
    checks += Map("name" -> name, "ok" -> err.isEmpty, "detail" -> err.getOrElse(""))
  }

  /** Set up `setups` times in fresh sessions (session start included) and
    * keep the last; its session is the one measured. */
  private def setup(build: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    val times = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val last = i == setups
      tracer.recording = traced && last
      val t0 = System.nanoTime()
      spark = ScalingLevel.session(cpus, parts)
      if (traced && last) {
        spark.sparkContext.addSparkListener(jobs)
        spark.streams.addListener(streams)
        jobs.active = true
        streams.active = true
      }
      tracer.span("bench.setup")(_ => build(spark))
      (System.nanoTime() - t0) / 1e9
    }
    rec("setup_s") = times
    mark("setup")
    spark
  }

  /** Run `step` untimed for `seconds`, at least three times. In a fresh
    * JVM every operation keeps getting faster for tens of seconds while
    * the JIT compiles Spark's planning path and the engine's kernels;
    * without this the timed median would depend on how far up that ramp
    * the run got. */
  private def warmUp(step: Int => Any): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < 3 || (System.nanoTime() - t0) / 1e9 < seconds) { step(i); i += 1 }
    mark("warm-up")
  }

  /** Run `step` as a closed loop for `seconds`, at least `minOps` times
    * (exactly `minOps` times when not `timed`). In a traced run every
    * other step is traced, so traced and untraced steps see the same JVM
    * warmth and table state. */
  private def measure(minOps: Int, timed: Boolean = true)(step: Int => Unit): Unit = {
    val host0 = Host.cpuStat()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || timed && (System.nanoTime() - t0) / 1e9 < seconds) {
      setPhase(if (traced && i % 2 == 1) "traced" else "plain")
      step(i)
      i += 1
    }
    rec("steal_pct") = Host.stealPct(host0, Host.cpuStat())
    rec("loadavg1") = Host.loadavg1()
    mark("timed")
    setPhase(if (traced) "sweep" else "plain")
  }

  private def setPhase(p: String): Unit = {
    phase = p
    tracer.recording = traced && p != "plain"
    jobs.active = tracer.recording
    streams.active = tracer.recording
  }

  // ------------------------------------------------------------- layer calls

  private def genCorpus(spark: SparkSession): Unit =
    WebtextGen.pages(spark, docs, seed, hosts = 100, partitions = cpus)
      .write.mode("overwrite").parquet(corpus)

  private def corpusDs(spark: SparkSession): Dataset[graft.model.Page] =
    spark.read.parquet(corpus).as[graft.model.Page](pageEnc)

  /** `dir` must not exist. */
  private def encode(spark: SparkSession, input: Dataset[graft.model.Page], dir: String): Map[String, Any] =
    tracer.span("graft.jobs.EncodeJob") { s =>
      val r = EncodeJob.run(spark, input, dir, cfg)
      s.attrs ++= Seq("bounds_s" -> r.boundsNanos / 1e9, "write_phase_s" -> r.encodeNanos / 1e9,
        "manifest_s" -> r.manifestNanos / 1e9, "output_mb" -> r.encBytesThisRun / 1e6,
        "raw_mb" -> r.rawBytesThisRun / 1e6, "dir" -> dir)
      Map("wall_s" -> r.wallNanos / 1e9, "raw_bytes" -> r.rawBytesThisRun,
        "enc_bytes" -> r.encBytesThisRun, "fl_bytes" -> r.flBaselineBytes)
    }

  /** The manifest's summed kernel time, attached to the traced encode
    * span that wrote `dir` (read after the timed call). */
  private def attachKernel(spark: SparkSession, dir: String): Unit =
    if (tracer.recording) tracer.spans.reverseIterator.find(s =>
      s.name == "graft.jobs.EncodeJob" && s.attrs.get("dir").contains(dir)).foreach { s =>
      s.attrs("kernel_s") = manifestTotals(spark, dir)("encode_nanos") / 1e9
    }

  private def manifestTotals(spark: SparkSession, dir: String): Map[String, Long] = {
    val r = spark.read.parquet(EncodeJob.manifestDir(dir))
      .agg(sum("rawBytes"), sum("encBytes"), sum("flBaselineBytes"), sum("encodeNanos"), sum("blocks"))
      .head()
    Map("raw_bytes" -> r.getLong(0), "enc_bytes" -> r.getLong(1), "fl_bytes" -> r.getLong(2),
      "encode_nanos" -> r.getLong(3), "chunks" -> r.getLong(4))
  }

  private def read(spark: SparkSession, dir: String, q: Read): Map[String, Any] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // bytes this JVM read through read(2) during the call: the scan's
    // task metrics carry no input bytes for the DSv2 reader
    def counted(s: Span)(body: => Unit): Unit = {
      val r0 = if (tracer.recording) Host.rchar() else 0L
      body
      if (tracer.recording) s.attrs("bytes_read_mb") = (Host.rchar() - r0) / 1e6
    }
    if (q.kind == "typed")
      tracer.span("graft.jobs.DecodeJob")(s => counted(s)(noop(DecodeJob.run(spark, dir).toDF())))
    else tracer.span("graft.sources.GraftDataSource") { s =>
      s.attrs("kind") = q.kind
      if (tracer.recording) readSpans += ((s, dir, q))
      counted(s)(noop(q(spark.read.format("graft").load(dir))))
    }
    Map("param" -> q.param)
  }

  /** The seeded read sequence: rounds of [[Read.Round]] in shuffled order,
    * hosts, urls and hours drawn from small seeded pools, so every
    * distinct read can be checked against the oracle once. */
  private def readSequence(pools: Map[String, IndexedSeq[String]]): Iterator[Read] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.shuffle(Read.Round)).flatten.map { k =>
      val pool = pools.getOrElse(k, IndexedSeq(""))
      Read(k, pool(rnd.nextInt(pool.length)))
    }
  }

  private def readPools: Map[String, IndexedSeq[String]] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val hours = math.max(1L, docs / 3600L).toInt
    Map(
      "host" -> IndexedSeq.fill(4)(s"h${rnd.nextInt(100)}.example.org").distinct,
      "point" -> IndexedSeq.fill(4)(WebtextGen.page(seed, (rnd.nextDouble() * docs).toLong, 100, 0.0).url),
      "ts" -> IndexedSeq.fill(4)(rnd.nextInt(hours).toString).distinct)
  }

  /** Copy drop `i`'s files into `inDir`, each under a hidden name first
    * and then renamed, so the stream never lists a partial file. */
  private def placeDrop(from: String, inDir: String, i: Int): String = {
    Files.createDirectories(Paths.get(inDir))
    Files.list(Paths.get(from)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
        val tmp = Paths.get(inDir, s".tmp-$i-${f.getFileName}")
        Files.copy(f, tmp)
        Files.move(tmp, Paths.get(inDir, s"drop-$i-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
      }
    inDir
  }

  private def drain(spark: SparkSession, inDir: String, outDir: String): Unit =
    tracer.span("graft.streaming.StreamingEncode") { s =>
      val t0 = System.nanoTime()
      val q = StreamingEncode.start(spark, inDir, outDir, cfg, Trigger.AvailableNow())
      s.attrs("start_s") = (System.nanoTime() - t0) / 1e9
      streamRuns(q.runId.toString) = s.id
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

  /** Generate `n` drops of `size` docs over disjoint docId ranges starting
    * at `firstDoc`, one parquet file each. */
  private def genDrops(spark: SparkSession, dir: String, n: Int, size: Long, firstDoc: Long): Unit = {
    import spark.implicits._
    val docSeed = seed
    (0 until n).foreach { i =>
      val lo = firstDoc + i * size
      spark.range(lo, lo + size, 1, 1).as[Long]
        .map(id => WebtextGen.page(docSeed, id, 100, 0.0))(pageEnc)
        .write.mode("overwrite").parquet(s"$dir/d$i")
    }
  }

  // ------------------------------------------------------------ correctness

  private def verify(name: String, spark: SparkSession, source: Dataset[graft.model.Page], dir: String): Unit =
    check(s"verify.$name") {
      val r = tracer.span("graft.jobs.VerifyJob")(_ => VerifyJob.run(spark, source, DecodeJob.run(spark, dir)))
      if (r.ok) None else Some(r.toString)
    }

  private def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** The read's result against the same query over the plain parquet
    * corpus: multiset digest for whole-table reads, every selected value
    * compared exactly for projections and lookups. */
  private def oracle(spark: SparkSession, dir: String, q: Read): Option[String] = {
    val plain = q(spark.read.parquet(corpus))
    q.kind match {
      case "typed" =>
        val got = digest(DecodeJob.run(spark, dir).toDF(), q.columns)
        val want = digest(plain, q.columns)
        if (got == want) None else Some(s"typed digest $got != $want")
      case "full" =>
        val got = digest(q(spark.read.format("graft").load(dir)), q.columns)
        val want = digest(plain, q.columns)
        if (got == want) None else Some(s"full digest $got != $want")
      case _ =>
        def rows(df: DataFrame) = df.select(q.columns.map(col): _*).orderBy("url").collect().map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v              => v
        })
        val got = rows(q(spark.read.format("graft").load(dir)))
        val want = rows(plain)
        if (want.isEmpty) Some(s"oracle returned no rows for $q")
        else if (got.length != want.length) Some(s"$q: ${got.length} rows, oracle ${want.length}")
        else got.indices.find(i => got(i) != want(i)).map(i => s"$q: row $i differs from the oracle")
    }
  }

  /** Chunks of `dir` whose statistics intersect the read (what the scan's
    * chunk pruning keeps), and all chunks. */
  private def chunkCounts(spark: SparkSession, dir: String, q: Read): (Long, Long) = {
    val meta = spark.read.parquet(EncodeJob.chunksDir(dir)).select("urlMin", "urlMax", "tsMin", "tsMax")
    val keep: Column = q.kind match {
      case "host" => col("urlMax") >= s"https://${q.param}/" && col("urlMin") < s"https://${q.param}0"
      case "point" => col("urlMax") >= q.param && col("urlMin") <= q.param
      case "ts" =>
        val (lo, hi) = Read.hour(q.param.toInt)
        val (loUs, hiUs) = (lo.getTime * 1000L, hi.getTime * 1000L)
        col("tsMax") >= loUs && col("tsMin") < hiUs
      case _ => lit(true)
    }
    val r = meta.agg(count(when(keep, 1)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  // --------------------------------------------------------------- workloads

  def run(): Map[String, Any] = {
    val spark = workload match {
      case "encode_bulk"  => encodeBulk()
      case "read_mix"     => readMix()
      case "append_drops" => appendDrops()
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) finishTrace(spark)
    mark(if (traced) "checks+sweep" else "checks")
    spark.stop()
    rec("peak_rss_mb") = Host.peakRssMb()
    if (traced) {
      val (codec, chosen) = CodecProbe.run(tracer, seed, a.int("codec_rows"), 200000000L)
      rec("codec") = codec
      rec("codec_chosen") = chosen
      rec("spans") = spanRecords()
      mark("codec probe")
    }
    rec("phases") = phases.map { case (n, sec) => Seq(n, sec) }.toSeq
    rec ++= Seq("workload" -> workload, "seed" -> seed, "cpus" -> cpus, "parts" -> parts, "docs" -> docs,
      "samples" -> samples.toSeq, "checks" -> checks.toSeq, "attempted" -> attempted, "failed" -> failed)
    rec.toMap
  }

  private def encodeBulk(): SparkSession = {
    val spark = setup(genCorpus)
    val input = corpusDs(spark)
    warmUp { _ =>
      ScalingLevel.rmrf(s"$work/warm")
      EncodeJob.run(spark, input, s"$work/warm", cfg)
    }
    var last = ""
    measure(minOps = 3) { i =>
      last = s"$work/enc_${i % 2}"
      ScalingLevel.rmrf(last)
      op("encode")(encode(spark, input, last))
      attachKernel(spark, last)
    }
    verify("encode_bulk", spark, input, last)
    rec("table") = manifestTotals(spark, last)
    if (traced) {
      sweepReads(spark, last)
      sweepDrops(spark)
    }
    spark
  }

  private def readMix(): SparkSession = {
    val table = s"$work/table"
    val spark = setup { s =>
      genCorpus(s)
      ScalingLevel.rmrf(table)
      encode(s, corpusDs(s), table)
    }
    attachKernel(spark, table)
    val pools = readPools
    val seq = readSequence(pools)
    warmUp(_ => read(spark, table, seq.next()))
    val seen = mutable.LinkedHashSet.empty[Read]
    measure(minOps = Read.Round.length) { _ =>
      val q = seq.next()
      seen += q
      op(q.kind)(read(spark, table, q))
    }
    verify("read_mix", spark, corpusDs(spark), table)
    seen.foreach(q => check(s"oracle.${q.kind}.${q.param}")(oracle(spark, table, q)))
    rec("table") = manifestTotals(spark, table)
    if (traced) sweepDrops(spark)
    spark
  }

  private def appendDrops(): SparkSession = {
    val dropsDir = s"$work/drops"
    val size = math.max(1L, docs / dropCount)
    val spark = setup(s => genDrops(s, dropsDir, dropCount + 1, size, 0L))
    val (inDir, table) = (s"$work/stream_in", s"$work/stream_table")
    // untimed warm-up drop into its own table: the first query of a
    // session pays streaming's class loading and JIT, several warm drops
    drain(spark, placeDrop(s"$dropsDir/d$dropCount", s"$work/warm_in", dropCount), s"$work/warm_table")
    // drops are stateful (the table grows), so a run is a fixed number
    // of drops, not a duration
    measure(minOps = dropCount, timed = false) { i =>
      placeDrop(s"$dropsDir/d$i", inDir, i)
      op("drop") { drain(spark, inDir, table); Map.empty }
    }
    val placed = spark.read.parquet(inDir).as[graft.model.Page](pageEnc)
    verify("append_drops", spark, placed, table)
    rec("table") = manifestTotals(spark, table)
    if (traced) {
      ScalingLevel.rmrf(s"$work/sweep_enc")
      op("encode")(encode(spark, placed, s"$work/sweep_enc"))
      attachKernel(spark, s"$work/sweep_enc")
      sweepReads(spark, table)
    }
    spark
  }

  private def sweepReads(spark: SparkSession, dir: String): Unit = {
    val pools = readPools
    Read.Round.distinct.foreach(k => op(k)(read(spark, dir, Read(k, pools.getOrElse(k, IndexedSeq(""))(0)))))
  }

  private def sweepDrops(spark: SparkSession): Unit = {
    val dir = s"$work/sweep_drops"
    genDrops(spark, dir, 3, math.max(1L, docs / dropCount), docs)
    (0 until 3).foreach { i =>
      placeDrop(s"$dir/d$i", s"$work/sweep_in", i)
      op("drop") { drain(spark, s"$work/sweep_in", s"$work/sweep_table"); Map.empty }
    }
  }

  private def finishTrace(spark: SparkSession): Unit = {
    val counts = mutable.Map.empty[(String, Read), (Long, Long)]
    readSpans.foreach { case (s, dir, q) =>
      val (kept, total) = counts.getOrElseUpdate((dir, q), chunkCounts(spark, dir, q))
      s.attrs ++= Seq("chunks_read" -> kept, "chunks_total" -> total)
    }
  }

  private def spanRecords(): Seq[Map[String, Any]] = {
    val bench = tracer.spans
    val byId = bench.map(s => s.id -> s).toMap
    jobs.sqlStarts.forEach { (group, ms) =>
      group.toLongOption.flatMap(byId.get).foreach(s => s.attrs("plan_ms") = ms - s.startNs / 1e6)
    }
    val spark = jobs.asSpans(byId, streamRuns.toMap, bench.map(_.id).maxOption.getOrElse(0L))
    var id = (bench ++ spark).map(_.id).maxOption.getOrElse(0L)
    val batches = streams.progress.toArray(Array.empty[Progress]).toSeq.flatMap { p =>
      streamRuns.get(p.runId).flatMap(byId.get).map { parent =>
        id += 1
        val s = new Span(id, parent.id, parent.op, "spark.stream.batch", p.startMs * 1000000L)
        s.endNs = (p.startMs + p.durations.getOrElse("triggerExecution", 0L)) * 1000000L
        p.durations.foreach { case (k, v) => s.attrs(s"$k.s") = v / 1e3 }
        s.attrs("rows") = p.rows
        s
      }
    }
    (bench ++ spark ++ batches).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
  }
}
