package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.codec.{ColumnCodec, FlBytes, FsstBytes, RleBytes}
import graft.model.TsMicros
import graft.sources.WebtextGen

/** The graft.codec layer timed alone: single-threaded, outside Spark, on
  * one seeded chunk of WebtextGen rows shaped like an encode task's chunk.
  * Each public call is repeated until it has run for `minNs`, and its
  * time per call is the median of those repeats. */
object CodecProbe {

  private def timeNs(minNs: Long)(body: => Any): Double = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
    val start = System.nanoTime()
    var sink = 0
    while (samples.length < 3 || System.nanoTime() - start < minNs) {
      val t0 = System.nanoTime()
      sink += body.hashCode
      samples += System.nanoTime() - t0
    }
    if (sink == 42) println("")
    val s = samples.sorted
    s(s.length / 2).toDouble
  }

  /** Metrics named `codec.*`, plus each column's chosen codec. Spans go to
    * `tracer`, one per timed call, labelled with the column and codec. */
  def run(tracer: Tracer, seed: Long, rows: Int, minNs: Long): (Map[String, Double], Map[String, String]) = {
    val pages = (0 until rows).map(i => WebtextGen.page(seed, i.toLong, 100, 0.0))
    val bytesCols: Seq[(String, Array[Array[Byte]])] = Seq(
      "url" -> pages.map(_.url.getBytes(UTF_8)).toArray,
      "html" -> pages.map(_.html).toArray,
      "text" -> pages.map(_.text.getBytes(UTF_8)).toArray,
      "lang" -> pages.map(_.lang.getBytes(UTF_8)).toArray)
    val ts = pages.map(p => TsMicros.micros(p.warc_ts)).toArray
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val chosen = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def timed(name: String, col: String)(body: => Any): Double =
      tracer.span("graft.codec") { s =>
        s.attrs("call") = name
        s.attrs("column") = col
        timeNs(minNs)(body)
      }

    // warm the JIT on every path once before timing
    bytesCols.foreach { case (_, v) => ColumnCodec.decodeBytesView(ColumnCodec.encodeBytes(v).bytes) }
    ColumnCodec.decodeLongs(ColumnCodec.encodeLongs(ts).bytes)

    bytesCols.foreach { case (col, values) =>
      val raw = values.map(_.length.toLong).sum.toDouble
      val enc = ColumnCodec.encodeBytes(values)
      chosen(col) = enc.codecName
      out(s"codec.enc_ns_per_byte.$col") = timed("ColumnCodec.encodeBytes", col)(ColumnCodec.encodeBytes(values)) / raw
      out(s"codec.dec_ns_per_byte.$col") = timed("ColumnCodec.decodeBytesView", col)(ColumnCodec.decodeBytesView(enc.bytes)) / raw
      out(s"codec.ratio.$col") = enc.bytes.length / raw
    }
    val tsRaw = 8.0 * ts.length
    val tsEnc = ColumnCodec.encodeLongs(ts)
    chosen("warc_ts") = tsEnc.codecName
    out("codec.enc_ns_per_byte.warc_ts") = timed("ColumnCodec.encodeLongs", "warc_ts")(ColumnCodec.encodeLongs(ts)) / tsRaw
    out("codec.dec_ns_per_byte.warc_ts") = timed("ColumnCodec.decodeLongs", "warc_ts")(ColumnCodec.decodeLongs(tsEnc.bytes)) / tsRaw
    out("codec.ratio.warc_ts") = tsEnc.bytes.length / tsRaw

    // the kernels behind the selector, on the concatenated text payload
    val text = bytesCols.find(_._1 == "text").get._2
    val payload = java.nio.ByteBuffer.allocate(text.map(_.length).sum)
    text.foreach(payload.put)
    val data = payload.array()
    val table = FsstBytes.train(data)
    out("codec.fsst_train_ms") = timed("FsstBytes.train", "text")(FsstBytes.train(data)) / 1e6
    out("codec.fsst_encode_ns_per_byte") = timed("FsstBytes.encodeWithTable", "text")(FsstBytes.encodeWithTable(data, table)) / data.length
    out("codec.fl_encode_ns_per_byte") = timed("FlBytes.encode", "text")(FlBytes.encode(data)) / data.length
    out("codec.rle_size_ns_per_byte") = timed("RleBytes.sizeOf", "text")(RleBytes.sizeOf(data)) / data.length
    (out.toMap, chosen.toMap)
  }
}
