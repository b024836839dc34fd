package graft.codec

import java.io.ByteArrayOutputStream

/** FSST-style symbol-table string compression (after the public paper
  * "FSST: Fast Random Access String Compression", Boncz/Neumann/Leis,
  * PVLDB 13(11), 2020 — no reference-repo counterpart; mandated by
  * BASELINE.json north_rule).
  *
  * A table of at most 255 symbols, each 1..8 bytes, is trained by
  * iterative greedy gain maximization on a sample: compress the sample
  * with the current table, count symbol and adjacent-symbol-pair
  * frequencies, admit the concatenations with highest gain = freq * len.
  * Code 255 is the escape: [0xFF, literal byte]. Encoding is
  * longest-match via a per-first-byte bucket list sorted by length.
  *
  * Block layout:
  *   [varint decodedLen][nSymbols byte]
  *   [symbol lengths: nSymbols bytes][symbol bytes, concatenated]
  *   [varint codesLen][codes]
  */
case object FsstBytes extends ByteCodec {
  val id = 3
  val name = "fsst"

  val MaxSymbols = 255 // code 255 reserved for escape
  val MaxSymbolLen = 8
  val TrainIterations = 5
  val MaxSampleBytes = 1 << 16

  def encode(data: Array[Byte]): Array[Byte] = {
    val table = train(sample(data))
    encodeWithTable(data, table)
  }

  def decode(block: Array[Byte], from: Int): Array[Byte] = {
    val cur = new ByteCursor(block, from)
    val decodedLen = cur.readCount()
    val nSymbols = cur.readByte()
    val lens = cur.readBytes(nSymbols)
    // symbols are <= 8 bytes: keep them packed in a long each and emit
    // with a register shift loop — no per-symbol array deref, no tiny
    // System.arraycopy call overhead in the hottest decode loop. Encode
    // only ever writes symbol lengths 1..8; anything else fabricates
    // zero bytes (l > 8) or turns its code into a silent no-op (l == 0)
    var lenSum = 0
    lens.indices.foreach { s =>
      val l = lens(s) & 0xff
      require(l >= 1 && l <= 8,
        s"FSST symbol $s has length $l (valid: 1..8) — corrupt block")
      lenSum += l
    }
    val symBytes = cur.readBytes(lenSum)
    val symVals = new Array[Long](nSymbols)
    val symLens = new Array[Int](nSymbols)
    var off = 0
    var s = 0
    while (s < nSymbols) {
      val l = lens(s) & 0xff
      var v = 0L
      var j = 0
      while (j < l) { v |= (symBytes(off + j) & 0xffL) << (8 * j); j += 1 }
      symVals(s) = v
      symLens(s) = l
      off += l
      s += 1
    }
    val codesLen = cur.readCount()
    // the code loop below indexes block directly (zero-copy) — it must
    // bound ITSELF the way readBytes would: a corrupt codesLen would
    // otherwise silently consume whatever bytes follow the block
    require(codesLen <= cur.remaining,
      s"FSST codes length $codesLen exceeds remaining ${cur.remaining} bytes — corrupt block")
    val out = new Array[Byte](decodedLen)
    var outPos = 0
    var i = cur.pos
    val end = cur.pos + codesLen
    while (i < end) {
      val code = block(i) & 0xff
      if (code == 0xff) {
        // a truncated escape as the final code byte would read one byte
        // PAST the declared codes region
        require(i + 1 < end, "FSST escape truncated at end of codes region — corrupt block")
        out(outPos) = block(i + 1)
        outPos += 1
        i += 2
      } else {
        var v = symVals(code)
        val l = symLens(code)
        var j = 0
        while (j < l) { out(outPos + j) = v.toByte; v >>>= 8; j += 1 }
        outPos += l
        i += 1
      }
    }
    // a code stream that UNDERSHOOTS the declared length would return
    // real data + a fabricated zero tail (same contract as RleBytes)
    require(outPos == decodedLen,
      s"FSST codes decoded $outPos of $decodedLen bytes — corrupt block")
    out
  }

  // ---------------------------------------------------------------- train

  private[codec] def sample(data: Array[Byte]): Array[Byte] =
    if (data.length <= MaxSampleBytes) data
    else {
      // stride-sample contiguous 1 KiB pieces across the whole payload so
      // the table sees head, middle and tail distributions
      val piece = 1024
      val pieces = MaxSampleBytes / piece
      val out = new Array[Byte](MaxSampleBytes)
      val stride = (data.length - piece).toLong / math.max(1, pieces - 1)
      var p = 0
      while (p < pieces) {
        val src = math.min((p * stride).toInt, data.length - piece)
        System.arraycopy(data, src, out, p * piece, piece)
        p += 1
      }
      out
    }

  final case class SymbolTable(symbols: Array[Array[Byte]]) {
    // two-level match index: symbols of length >= 2 bucketed by their first
    // TWO bytes (longest first), single-byte symbols in a direct 256-entry
    // code lookup. Cuts the per-position candidate scan to the handful of
    // symbols sharing a 2-byte prefix.
    private val pairBuckets: Array[Array[Int]] = {
      val tmp = new java.util.HashMap[Integer, List[Int]]()
      symbols.zipWithIndex.foreach { case (sym, idx) =>
        if (sym.length >= 2) {
          val key = ((sym(0) & 0xff) << 8) | (sym(1) & 0xff)
          tmp.merge(key, List(idx), (a, b) => b ::: a)
        }
      }
      val out = new Array[Array[Int]](65536)
      tmp.forEach { (k, v) => out(k) = v.sortBy(i => -symbols(i).length).toArray }
      out
    }
    private val singleCode: Array[Int] = {
      val out = Array.fill(256)(-1)
      symbols.zipWithIndex.foreach { case (sym, idx) =>
        if (sym.length == 1) out(sym(0) & 0xff) = idx
      }
      out
    }

    /** Longest symbol matching data at pos, or -1. */
    def findLongest(data: Array[Byte], pos: Int): Int = {
      if (pos + 1 < data.length) {
        val bucket = pairBuckets(((data(pos) & 0xff) << 8) | (data(pos + 1) & 0xff))
        if (bucket != null) {
          var k = 0
          while (k < bucket.length) {
            val idx = bucket(k)
            val sym = symbols(idx)
            if (pos + sym.length <= data.length && matches(data, pos, sym)) return idx
            k += 1
          }
        }
      }
      singleCode(data(pos) & 0xff)
    }

    @inline private def matches(data: Array[Byte], pos: Int, sym: Array[Byte]): Boolean = {
      var j = 0
      while (j < sym.length) {
        if (data(pos + j) != sym(j)) return false
        j += 1
      }
      true
    }
  }

  /** Iterative greedy construction: start from frequent single bytes, then
    * repeatedly re-compress the sample and admit high-gain concatenations
    * of adjacent emitted symbols (paper §3.3's bottom-up algorithm,
    * simplified but semantics-preserving: any table round-trips). */
  def train(sampleData: Array[Byte]): SymbolTable = {
    if (sampleData.isEmpty) return SymbolTable(Array.empty)
    var table = initialTable(sampleData)
    var iter = 0
    while (iter < TrainIterations) {
      table = refine(sampleData, table)
      iter += 1
    }
    table
  }

  private def initialTable(sampleData: Array[Byte]): SymbolTable = {
    val freq = new Array[Long](256)
    sampleData.foreach(b => freq(b & 0xff) += 1)
    val top = freq.zipWithIndex.filter(_._1 > 0).sortBy(-_._1).take(MaxSymbols)
    SymbolTable(top.map { case (_, b) => Array(b.toByte) })
  }

  /** Pack a symbol's bytes little-endian into a Long (symbols are <= 8
    * bytes); together with its length this is an exact, allocation-free
    * candidate key for the training frequency maps. */
  @inline private def packSym(sym: Array[Byte]): Long = {
    var v = 0L
    var j = 0
    while (j < sym.length) { v |= (sym(j) & 0xffL) << (8 * j); j += 1 }
    v
  }

  private def unpackSym(value: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var j = 0
    while (j < len) { out(j) = ((value >>> (8 * j)) & 0xff).toByte; j += 1 }
    out
  }

  private def refine(sampleData: Array[Byte], table: SymbolTable): SymbolTable = {
    // compress the sample, counting symbol freq and adjacent-pair freq.
    // Candidates are keyed (length, packed-Long bytes) in per-length maps:
    // exact (no hash ambiguity) and with no per-position array/ByteBuffer
    // allocation — this loop runs 5x over the sample per chunk column.
    val symFreq = Array.fill(MaxSymbolLen)(new java.util.HashMap[java.lang.Long, java.lang.Long]())
    val pairFreq = Array.fill(MaxSymbolLen)(new java.util.HashMap[java.lang.Long, java.lang.Long]())
    val packed = table.symbols.map(packSym)
    val one = java.lang.Long.valueOf(1L)
    val sum = new java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long] {
      def apply(a: java.lang.Long, b: java.lang.Long): java.lang.Long = a + b
    }
    var pos = 0
    var prevVal = 0L
    var prevLen = 0
    while (pos < sampleData.length) {
      val idx = table.findLongest(sampleData, pos)
      var curVal = 0L
      var curLen = 1
      if (idx >= 0) { curVal = packed(idx); curLen = table.symbols(idx).length }
      else curVal = sampleData(pos) & 0xffL
      symFreq(curLen - 1).merge(curVal, one, sum)
      if (prevLen > 0 && prevLen + curLen <= MaxSymbolLen)
        pairFreq(prevLen + curLen - 1).merge(prevVal | (curVal << (8 * prevLen)), one, sum)
      prevVal = curVal
      prevLen = curLen
      pos += curLen
    }
    // candidates: current symbols + escaped single bytes + pairs; gain =
    // freq * len, max-merged where a symbol is also a pair concatenation
    val gains = Array.fill(MaxSymbolLen)(new java.util.HashMap[java.lang.Long, java.lang.Long]())
    var len = 1
    while (len <= MaxSymbolLen) {
      val l = len
      val mx = new java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long] {
        def apply(a: java.lang.Long, b: java.lang.Long): java.lang.Long = math.max(a, b)
      }
      symFreq(l - 1).forEach { (k, f) => gains(l - 1).merge(k, f * l, mx) }
      pairFreq(l - 1).forEach { (k, f) => gains(l - 1).merge(k, f * l, mx) }
      len += 1
    }
    val selected = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]() // (value, len, gain)
    var l = 1
    while (l <= MaxSymbolLen) {
      gains(l - 1).forEach { (k, g) => selected += ((k.longValue(), l, g.longValue())) }
      l += 1
    }
    val top = selected.sortBy(-_._3).take(MaxSymbols)
      .map { case (v, ln, _) => unpackSym(v, ln) }.toArray
    SymbolTable(top)
  }

  // --------------------------------------------------------------- encode

  def encodeWithTable(data: Array[Byte], table: SymbolTable): Array[Byte] = {
    // plain growable array, NOT ByteArrayOutputStream: BAOS.write is
    // synchronized (a lock op per emitted byte) and this is the hottest
    // loop in the encode kernel.
    var buf = new Array[Byte](math.max(64, data.length / 2))
    var n = 0
    @inline def ensure(extra: Int): Unit =
      if (n + extra > buf.length) {
        // Long-tracked growth failing only when the ACTUAL output would
        // exceed the JVM array cap — a worst-case (2x, all-escapes)
        // up-front bound would reject ~1-2 GiB compressible chunks whose
        // real output fits fine. The explicit require keeps the failure
        // loud: without it, doubling past the cap would clamp the buffer
        // and the next emit would either copy the full array per byte
        // (an effective hang) or index out of bounds.
        // cap leaves room for the block framing too (<=5+5 varints,
        // 1 count byte, <=255*(8+1) symbol bytes, BAOS's +1024 slack):
        // a code stream that fits the bare array cap but not
        // framing+stream would otherwise pass here and die downstream
        // in the ByteArrayOutputStream with a negative-size or OOME
        val need = n.toLong + extra.toLong
        require(need <= Int.MaxValue.toLong - 4096L,
          s"FSST output exceeds the JVM array cap (input ${data.length} " +
            "bytes, nearly incompressible); encode smaller chunks")
        val want = math.max(buf.length.toLong * 2L, need)
        buf = java.util.Arrays.copyOf(buf,
          math.min(want, Int.MaxValue.toLong - 4096L).toInt)
      }
    var pos = 0
    val hasSymbols = table.symbols.nonEmpty
    while (pos < data.length) {
      val idx = if (hasSymbols) table.findLongest(data, pos) else -1
      if (idx >= 0) {
        ensure(1)
        buf(n) = idx.toByte
        n += 1
        pos += table.symbols(idx).length
      } else {
        ensure(2)
        buf(n) = 0xff.toByte
        buf(n + 1) = data(pos)
        n += 2
        pos += 1
      }
    }
    val codeBytes = java.util.Arrays.copyOf(buf, n)
    val out = new ByteArrayOutputStream(codeBytes.length + 1024)
    Varint.writeUnsigned(out, data.length.toLong)
    out.write(table.symbols.length)
    table.symbols.foreach(s => out.write(s.length))
    table.symbols.foreach(s => out.write(s, 0, s.length))
    Varint.writeUnsigned(out, codeBytes.length.toLong)
    out.write(codeBytes, 0, codeBytes.length)
    out.toByteArray
  }

  /** Estimated encoded size from a sample compression with an
    * already-trained table (used by the selector, which trains once and
    * reuses the table for the real encode if FSST wins; the structural
    * <=FL bound is enforced post-encode). */
  def estimateSizeWithTable(data: Array[Byte], sampleData: Array[Byte], table: SymbolTable): Long = {
    val enc = encodeWithTable(sampleData, table)
    val tableBytes = 1L + table.symbols.map(_.length + 1).sum
    val codesRatio = (enc.length.toLong - tableBytes).toDouble / sampleData.length
    (codesRatio * data.length).toLong + tableBytes + 10L
  }
}
