package graft.jobs

import org.apache.spark.sql.functions.md5
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.WebtextGen

/** Columnar decode: a projection must read ONLY the requested columns'
  * blocks from the chunk table (per-column top-level struct fields make
  * the other leaves prunable), and a url-range predicate must prune
  * whole chunks before any decode plus filter exactly at row level. */
class DecodeProjectionSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir = {
    val d = tmpDir("graft-proj")
    EncodeJob.run(spark, WebtextGen.pages(spark, 800L, partitions = 4), d,
      EncodeJob.Config(numPartitions = 4))
    d
  }

  test("projected decode returns exactly the source projection") {
    import spark.implicits._
    val got = DecodeJob.runProjected(spark, dir, Seq("url", "lang"))
      .as[(String, String)].collect().sorted
    val want = WebtextGen.pages(spark, 800L, partitions = 4)
      .select($"url", $"lang").as[(String, String)].collect().sorted
    assert(got.toSeq == want.toSeq)
  }

  test("projected scan reads only the requested block leaves") {
    val plan = DecodeJob.runProjected(spark, dir, Seq("url"))
      .queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("GraftScan"))
      .getOrElse(fail("no GraftScan in plan:\n" + plan))
    // the scan reads the url block leaf and no other: not text, html,
    // warc_ts or lang (GraftDataSourceSpec measures the I/O this saves)
    assert(scan.contains("ReadColumns=[url]"), scan)
  }

  test("url and ts ranges reach GraftScan as pushed bounds, no residual filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val urls = source.select($"url").as[String].collect().sorted
    val micros = source.select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val (lo, hi, tlo, thi) = (urls(100), urls(700), micros(150), micros(650))
    val df = DecodeJob.runProjected(spark, dir, Seq("lang"), Some((lo, hi)), Some((tlo, thi)))
    val plan = df.queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("GraftScan"))
      .getOrElse(fail("no GraftScan in plan:\n" + plan))
    for (b <- Seq(s"url >= '$lo'", s"url <= '$hi'",
        s"warc_ts_micros >= $tlo", s"warc_ts_micros <= $thi"))
      assert(scan.contains(b), s"bound '$b' not pushed into GraftScan:\n$plan")
    // rows would stay correct under a residual Filter, but pruning would
    // silently disappear: every url/warc_ts predicate must be consumed
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(_.references.map(_.name)).filter(Set("url", "warc_ts"))
    assert(residual.isEmpty, s"residual filter on ${residual.distinct} above the scan:\n$plan")
    assert(scan.contains("ReadColumns=[lang]"), scan)
  }

  test("url-range decode prunes chunks and filters rows exactly") {
    import spark.implicits._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val urls = source.select($"url").as[String].collect().sorted
    val (lo, hi) = (urls(200), urls(600))
    val got = DecodeJob.runProjected(spark, dir, Seq("url", "text"), Some((lo, hi)))
      .as[(String, String)].collect().sortBy(_._1)
    val want = source.filter($"url" >= lo && $"url" <= hi)
      .select($"url", $"text").as[(String, String)].collect().sortBy(_._1)
    assert(got.length == 401)
    assert(got.toSeq == want.toSeq)
    // range without url in the projection still filters correctly
    val langsOnly = DecodeJob.runProjected(spark, dir, Seq("lang"), Some((lo, hi))).count()
    assert(langsOnly == 401L)
  }

  test("ts-range decode prunes on (tsMin, tsMax) and filters micros exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val source = WebtextGen.pages(spark, 800L, partitions = 4)
    val micros = source.select(unix_micros($"warc_ts")).as[Long].collect().sorted
    val (lo, hi) = (micros(150), micros(650))
    val got = DecodeJob.runProjected(spark, dir, Seq("url", "warc_ts"),
        None, Some((lo, hi)))
      .select($"url", unix_micros($"warc_ts").as("us"))
      .as[(String, Long)].collect().sortBy(_._1)
    val want = source
      .filter(unix_micros($"warc_ts").between(lo, hi))
      .select($"url", unix_micros($"warc_ts")).as[(String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq && got.nonEmpty && got.length < 800)
    // ts range without warc_ts in the projection still filters correctly
    assert(DecodeJob.runProjected(spark, dir, Seq("lang"), None, Some((lo, hi)))
      .count() == want.length.toLong)
    // combined url + ts ranges intersect
    val urls = source.select($"url").as[String].collect().sorted
    val both = DecodeJob.runProjected(spark, dir, Seq("url"),
        Some((urls(100), urls(700))), Some((lo, hi)))
      .as[String].collect().sorted
    val wantBoth = source
      .filter($"url".between(urls(100), urls(700)) && unix_micros($"warc_ts").between(lo, hi))
      .select($"url").as[String].collect().sorted
    assert(both.toSeq == wantBoth.toSeq)
    // null-ts rows never match a ts range; and a LEGACY table (null ts
    // stats columns) keeps its chunks at the metadata level and stays
    // exact through the row filter
    val nullDir = tmpDir("graft-proj-nullts")
    graft.ScalingLevel.rmrf(nullDir)
    val withNulls = source.toDF()
      .withColumn("warc_ts",
        when(expr("url like '%3'"), lit(null).cast("timestamp")).otherwise($"warc_ts"))
      .as[graft.model.Page](org.apache.spark.sql.Encoders.product[graft.model.Page])
    EncodeJob.run(spark, withNulls, nullDir, EncodeJob.Config(numPartitions = 4))
    val legacy = tmpDir("graft-proj-legacyts")
    graft.ScalingLevel.rmrf(legacy)
    spark.read.parquet(s"$nullDir/chunks").drop("tsMin", "tsMax")
      .write.mode("overwrite").parquet(s"$legacy/chunks")
    val wantNulls = withNulls.toDF()
      .filter(unix_micros($"warc_ts").between(lo, hi))
      .select($"url").as[String].collect().sorted
    for (d <- Seq(nullDir, legacy)) {
      val g = DecodeJob.runProjected(spark, d, Seq("url"), None, Some((lo, hi)))
        .as[String].collect().sorted
      assert(g.toSeq == wantNulls.toSeq, s"ts-range over $d diverged")
    }
  }

  test("timestamps and binary survive projected decode bit-identically") {
    import spark.implicits._
    val got = DecodeJob.runProjected(spark, dir, Seq("url", "warc_ts", "html"))
      .select($"url", $"warc_ts".cast("long"), md5($"html"))
      .as[(String, Long, String)].collect().sorted
    val want = WebtextGen.pages(spark, 800L, partitions = 4)
      .select($"url", $"warc_ts".cast("long"), md5($"html"))
      .as[(String, Long, String)].collect().sorted
    assert(got.toSeq == want.toSeq)
  }

  test("pre-Gregorian timestamps decode, filter and aggregate as the source values") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // before the 1582 switch Spark's java.sql.Timestamp (hybrid calendar)
    // and its internal micros (proleptic Gregorian) differ by days
    val out = tmpDir("graft-proj-ancient")
    graft.ScalingLevel.rmrf(out)
    val src = spark.createDataset(Seq("1000-03-01 12:00:00", "1582-10-01 00:00:00",
        "1900-01-01 00:00:00", "2020-01-01 00:00:00").zipWithIndex.map { case (t, i) =>
      graft.model.Page(s"https://x/$i", java.sql.Timestamp.valueOf(t), Array[Byte](1), s"t$i", "en")
    })
    EncodeJob.run(spark, src, out, EncodeJob.Config(numPartitions = 1))
    val report = VerifyJob.run(spark, src, DecodeJob.run(spark, out))
    assert(report.ok, report.toString)
    val lo = java.sql.Timestamp.valueOf("1000-03-01 12:00:00")
    val hi = java.sql.Timestamp.valueOf("1582-10-01 00:00:00")
    val want = Seq("https://x/0", "https://x/1")
    for (java8 <- Seq("false", "true")) {
      spark.conf.set("spark.sql.datetime.java8API.enabled", java8)
      try {
        val got = spark.read.format("graft").load(out)
          .filter($"warc_ts".between(lit(lo), lit(hi))).select($"url")
          .as[String].collect().sorted.toSeq
        assert(got == want, s"java8API=$java8: ts filter returned $got")
      } finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }
    val agg = spark.read.format("graft").load(out)
      .agg(min($"warc_ts").cast("string"), max($"warc_ts").cast("string")).head()
    assert(agg.toSeq == Seq("1000-03-01 12:00:00", "2020-01-01 00:00:00"), agg.toString)
  }

  test("duplicate or unknown projection columns are rejected at the API boundary") {
    // duplicates would otherwise surface later as parquet's confusing
    // 'Found duplicate column(s)' on write
    val dup = intercept[IllegalArgumentException] {
      DecodeJob.runProjected(spark, dir, Seq("url", "url"))
    }
    assert(dup.getMessage.contains("duplicate"))
    val unknown = intercept[IllegalArgumentException] {
      DecodeJob.runProjected(spark, dir, Seq("nope"))
    }
    assert(unknown.getMessage.contains("columns must be among"))
  }
}
