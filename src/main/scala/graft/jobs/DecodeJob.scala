package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.model.{Page, TsMicros}

/** The engine's decode front door: two expressions over the DataSource V2
  * reader ([[graft.sources.GraftDataSource]], `format("graft")`), which is
  * the engine's ONE decoder. Decoded columns are bit-identical to the
  * encoder's input — the north_rule invariant, asserted by VerifyJob and
  * the e2e suite.
  *
  * Everything the chunk layout buys happens inside that scan: a projection
  * reads only the requested columns' block leaves, url and warc_ts bounds
  * are consumed as pushed filters that skip parquet row groups and chunks
  * on their (urlMin, urlMax) / (tsMin, tsMax) statistics before any block
  * is decoded and then filter rows exactly, and the per-chunk text CRC
  * lineage check runs whenever `text` is decoded. `explain` shows it all
  * on the `GraftScan` node (`ReadColumns=[…]`, `PushedBounds=[…]`). */
object DecodeJob {

  val ColumnNames: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")

  private def read(spark: SparkSession, outDir: String): DataFrame =
    spark.read.format("graft").load(outDir)

  def run(spark: SparkSession, outDir: String): Dataset[Page] =
    read(spark, outDir).as[Page](Encoders.product[Page])

  /** Columnar decode of a subset of columns, optionally restricted to an
    * inclusive url range (UTF-8 byte order — Spark's own string order)
    * and/or an inclusive warc_ts range in epoch micros. A null warc_ts
    * never matches a ts range (SQL comparison semantics). The ts bounds
    * are timestamp literals, which the scan consumes as exact micros. */
  def runProjected(spark: SparkSession, outDir: String, columns: Seq[String],
                   urlRange: Option[(String, String)] = None,
                   tsRangeMicros: Option[(Long, Long)] = None): DataFrame = {
    require(columns.nonEmpty && columns.forall(ColumnNames.contains),
      s"columns must be among $ColumnNames, got $columns")
    require(columns.distinct == columns,
      s"duplicate columns requested: $columns — parquet rejects duplicate field names")
    def between(c: String, lo: Column, hi: Column): Column = col(c) >= lo && col(c) <= hi
    val bounds =
      urlRange.map { case (lo, hi) => between("url", lit(lo), lit(hi)) } ++
        tsRangeMicros.map { case (lo, hi) =>
          between("warc_ts", lit(TsMicros.toTs(lo)), lit(TsMicros.toTs(hi)))
        }
    bounds.foldLeft(read(spark, outDir))(_ where _).select(columns.map(col): _*)
  }
}
