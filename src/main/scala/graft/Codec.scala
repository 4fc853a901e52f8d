package graft

import scala.collection.mutable.ArrayBuffer

/** Posting-list compression: delta-gap + variable-byte (VByte), cut into
  * self-contained block-max blocks of [[Codec.BlockSize]] postings.
  *
  * Capability analog of the reference's PQ compression (D floats → mp
  * bytes, `src/quantizer.cpp:133-188`) except LOSSLESS, per the north rule.
  * Block layout (all VByte-encoded unsigned longs):
  *
  *   docId₀, tf₀, dl₀, gap₁, tf₁, dl₁, ... gapᵢ = docIdᵢ - docIdᵢ₋₁ ≥ 1
  *
  * The first docId is absolute, so blocks concatenate freely across
  * segment merges (SURVEY.md §7.6 item 5 — no seam re-anchoring needed).
  * Headers (max_doc, n, max_tf, min_dl) live in [[Block]]; max_doc
  * places a block without decoding it, (max_tf, min_dl) bound every
  * contribution in it — the analog of the reference's per-cluster
  * pruning bound (TopWId, `src/index_ivfpq.cpp:199-237`).
  */
object Codec {
  val BlockSize = 128

  /** Codec ids recorded per [[Block]] (blocks stay self-describing, so
    * indexes with different codecs concat-merge freely). VByte is the
    * default; PFor is the NewPFD-style patched-frame-of-reference codec
    * (bit-packed low bits + ≤10% exception patching — Zukowski et al.,
    * ICDE 2006; Zhang et al., WWW 2008), the second member of the north
    * rule's "variable-byte/PForDelta" pair. */
  val VByteId = 0
  val PForId = 1

  // ---- VByte primitives ------------------------------------------------
  def putVLong(out: ArrayBuffer[Byte], value: Long): Unit = {
    require(value >= 0, s"VByte requires non-negative, got $value")
    var v = value
    while ((v & ~0x7fL) != 0L) {
      out += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    out += v.toByte
  }

  /** Growable PRIMITIVE byte sink for the hot encode path. Scala's
    * `ArrayBuffer[Byte]` is unspecialized — it stores each byte as an
    * 8-byte boxed reference (8× the memory traffic of the data) — and the
    * build encodes the entire index through it twice (map emit + reduce
    * merge). Reusable across blocks via [[clear]]: one sink per task, one
    * exact-size `toArray` per block (the block bytes themselves). */
  final class ByteSink(initial: Int = 4096) {
    private var buf = new Array[Byte](initial)
    private var nn = 0
    @inline def add(b: Byte): Unit = {
      if (nn == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
      buf(nn) = b
      nn += 1
    }
    def clear(): Unit = nn = 0
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, nn)
  }

  def putVLong(out: ByteSink, value: Long): Unit = {
    require(value >= 0, s"VByte requires non-negative, got $value")
    var v = value
    while ((v & ~0x7fL) != 0L) {
      out.add(((v & 0x7f) | 0x80).toByte)
      v >>>= 7
    }
    out.add(v.toByte)
  }

  /** Mutable read position wrapper (avoids tuple allocation per value). */
  final class Reader(val bytes: Array[Byte]) {
    var pos: Int = 0
    def hasNext: Boolean = pos < bytes.length
    def readVLong(): Long = {
      var v = 0L; var shift = 0; var b = 0
      do {
        b = bytes(pos) & 0xff; pos += 1
        v |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
  }

  // ---- Block encode/decode --------------------------------------------
  /** Encode one block of postings (docIds strictly increasing). */
  def encodeBlock(docIds: Array[Long], tfs: Array[Int], dls: Array[Int]): Block = {
    require(docIds.length > 0 && tfs.length == docIds.length && dls.length == docIds.length)
    encodeBlockRange(docIds, tfs, dls, 0, docIds.length, new ByteSink(docIds.length * 4))
  }

  /** [[encodeBlock]] over the range [from, until) of the parallel arrays,
    * writing through a reusable sink — the hot-path shape: the build's
    * emit and merge loops encode straight out of their posting buffers
    * with zero intermediate array copies (the `copyOfRange`+`slice`
    * variant copied every posting ~4× — gigabytes of young-gen garbage
    * per build whose collection pauses idle ALL pinned cores, the
    * measured 4→16-core scaling loss). Byte output is bit-identical to
    * the whole-array path. */
  def encodeBlockRange(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                       from: Int, until: Int, sink: ByteSink,
                       codec: Int = VByteId): Block = {
    sink.clear()
    var prev = -1L
    var maxTf = 0
    var minDl = Int.MaxValue
    if (codec == VByteId) {
      var i = from
      while (i < until) {
        val d = docIds(i)
        require(d > prev, s"docIds must be strictly increasing: $d after $prev")
        putVLong(sink, if (i == from) d else d - prev)
        putVLong(sink, tfs(i).toLong)
        putVLong(sink, dls(i).toLong)
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls(i) < minDl) minDl = dls(i)
        prev = d
        i += 1
      }
    } else {
      require(codec == PForId, s"unknown codec id $codec")
      var i = from
      while (i < until) {
        val d = docIds(i)
        require(d > prev, s"docIds must be strictly increasing: $d after $prev")
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls(i) < minDl) minDl = dls(i)
        prev = d
        i += 1
      }
      encodePfor(docIds, tfs, dls, from, until, sink)
    }
    Block(docIds(until - 1), until - from, maxTf, minDl, sink.toArray, codec)
  }

  /** Decode a block into parallel arrays (docIds, tfs, dls). Dispatches
    * on the block's self-describing codec id. */
  def decodeBlock(b: Block): (Array[Long], Array[Int], Array[Int]) = {
    val docIds = new Array[Long](b.n)
    val tfs = new Array[Int](b.n)
    val dls = new Array[Int](b.n)
    decodeBlockInto(b, docIds, tfs, dls, 0)
    (docIds, tfs, dls)
  }

  /** Decode a block DIRECTLY into caller arrays at `off` (the merge
    * path's zero-copy shape — see [[IndexBuild.PostingBuf.addBlock]]).
    * Arrays must have capacity `off + b.n`. */
  def decodeBlockInto(b: Block, docIds: Array[Long], tfs: Array[Int],
                      dls: Array[Int], off: Int): Unit =
    if (b.codec == VByteId) {
      val r = new Reader(b.bytes)
      var prev = 0L
      var i = 0
      while (i < b.n) {
        val g = r.readVLong()
        prev = if (i == 0) g else prev + g
        docIds(off + i) = prev
        tfs(off + i) = r.readVLong().toInt
        dls(off + i) = r.readVLong().toInt
        i += 1
      }
    } else {
      require(b.codec == PForId, s"unknown codec id ${b.codec}")
      decodePforInto(b.bytes, b.n, docIds, tfs, dls, off)
    }

  // ---- PForDelta (NewPFD-style patched frame-of-reference) -------------
  // Byte layout (after the shared Block header fields):
  //   VByte(docId₀)                      -- absolute, like the VByte codec
  //   stream(gaps g₁..gₙ₋₁)              -- n-1 values (absent when n == 1)
  //   stream(tf₀..tfₙ₋₁)                 -- n values
  //   stream(dl₀..dlₙ₋₁)                 -- n values
  // where stream(v*) =
  //   byte  b                            -- pack width in bits (0..63)
  //   VByte(nExceptions)
  //   ceil(count·b/8) bytes              -- low b bits of each value, LSB-first
  //   nExceptions × (VByte(idx), VByte(v >>> b))  -- patched high bits
  // b is the smallest width leaving ≤ count/10 exceptions (the classic
  // PFor 90th-percentile rule): one cache-friendly unpack loop covers 90%
  // of values, the skewed tail pays VByte — strictly smaller than VByte
  // on small-gap lists, never catastrophically larger on skewed ones.

  /** Append the low `width` bits of each value in [from, until) of `vals`
    * (via `gap` transform for the docId stream), then the exceptions. */
  private def putPforStream(vals: Array[Long], from: Int, until: Int,
                            sink: ByteSink): Unit = {
    val count = until - from
    if (count == 0) return
    // width histogram (all values are non-negative, so width ≤ 63)
    val cnt = new Array[Int](64)
    var maxw = 0
    var i = from
    while (i < until) {
      val w = 64 - java.lang.Long.numberOfLeadingZeros(vals(i))
      cnt(w) += 1
      if (w > maxw) maxw = w
      i += 1
    }
    // smallest b with ≤ count/10 exceptions
    var b = maxw
    var exc = 0
    val lim = count / 10
    while (b > 0 && exc + cnt(b) <= lim) { exc += cnt(b); b -= 1 }
    sink.add(b.toByte)
    putVLong(sink, exc.toLong)
    // bit-pack low b bits, LSB-first within each byte
    var acc = 0L
    var nbits = 0
    i = from
    while (i < until) {
      var v = if (b == 0) 0L else vals(i) & ((1L << b) - 1)
      var rem = b
      while (rem > 0) {
        val take = math.min(rem, 8 - nbits)
        acc |= (v & ((1L << take) - 1)) << nbits
        nbits += take
        v >>>= take
        rem -= take
        if (nbits == 8) { sink.add(acc.toByte); acc = 0L; nbits = 0 }
      }
      i += 1
    }
    if (nbits > 0) sink.add(acc.toByte)
    // exceptions: (position within the stream, high bits)
    i = from
    while (i < until) {
      if (64 - java.lang.Long.numberOfLeadingZeros(vals(i)) > b) {
        putVLong(sink, (i - from).toLong)
        putVLong(sink, vals(i) >>> b)
      }
      i += 1
    }
  }

  /** Read one PFor stream into `out[off, off+count)`. */
  private def getPforStream(r: Reader, out: Array[Long], off: Int,
                            count: Int): Unit = {
    if (count == 0) return
    val b = r.bytes(r.pos) & 0xff; r.pos += 1
    val nExc = r.readVLong().toInt
    var acc = 0L
    var nbits = 0
    var i = 0
    while (i < count) {
      var v = 0L
      var got = 0
      while (got < b) {
        if (nbits == 0) { acc = r.bytes(r.pos) & 0xffL; r.pos += 1; nbits = 8 }
        val take = math.min(b - got, nbits)
        v |= (acc & ((1L << take) - 1)) << got
        acc >>>= take
        nbits -= take
        got += take
      }
      out(off + i) = v
      i += 1
    }
    var e = 0
    while (e < nExc) {
      val idx = r.readVLong().toInt
      val hi = r.readVLong()
      out(off + idx) |= hi << b
      e += 1
    }
  }

  // per-thread scratch for the three unpacked streams (blocks are small;
  // reused across blocks like the encode-side ByteSink)
  private val pforScratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](2 * BlockSize)
  }

  private def encodePfor(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                         from: Int, until: Int, sink: ByteSink): Unit = {
    val n = until - from
    putVLong(sink, docIds(from))
    var scratch = pforScratch.get()
    if (scratch.length < n) {
      scratch = new Array[Long](Integer.highestOneBit(n) << 1)
      pforScratch.set(scratch)
    }
    var i = 1
    while (i < n) { scratch(i - 1) = docIds(from + i) - docIds(from + i - 1); i += 1 }
    putPforStream(scratch, 0, n - 1, sink)
    i = 0
    while (i < n) { scratch(i) = tfs(from + i).toLong; i += 1 }
    putPforStream(scratch, 0, n, sink)
    i = 0
    while (i < n) { scratch(i) = dls(from + i).toLong; i += 1 }
    putPforStream(scratch, 0, n, sink)
  }

  private def decodePforInto(bytes: Array[Byte], n: Int, docIds: Array[Long],
                             tfs: Array[Int], dls: Array[Int], off: Int): Unit = {
    val r = new Reader(bytes)
    val first = r.readVLong()
    var scratch = pforScratch.get()
    if (scratch.length < n) {
      scratch = new Array[Long](Integer.highestOneBit(n) << 1)
      pforScratch.set(scratch)
    }
    getPforStream(r, scratch, 0, n - 1)
    docIds(off) = first
    var i = 1
    while (i < n) { docIds(off + i) = docIds(off + i - 1) + scratch(i - 1); i += 1 }
    getPforStream(r, scratch, 0, n)
    i = 0
    while (i < n) { tfs(off + i) = scratch(i).toInt; i += 1 }
    getPforStream(r, scratch, 0, n)
    i = 0
    while (i < n) { dls(off + i) = scratch(i).toInt; i += 1 }
  }

  /** Cut a full posting list into blocks of [[BlockSize]]. */
  def encodeBlocks(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                   blockSize: Int = BlockSize, codec: Int = VByteId): Seq[Block] =
    encodeBlocksRange(docIds, tfs, dls, 0, docIds.length, blockSize,
      new ByteSink(), codec)

  /** [[encodeBlocks]] over [from, until) with a reusable sink — no array
    * slices, no per-block copies; bit-identical output. */
  def encodeBlocksRange(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
                        from: Int, until: Int, blockSize: Int,
                        sink: ByteSink, codec: Int = VByteId): Seq[Block] = {
    val out = Vector.newBuilder[Block]
    var off = from
    while (off < until) {
      val len = math.min(blockSize, until - off)
      out += encodeBlockRange(docIds, tfs, dls, off, off + len, sink, codec)
      off += len
    }
    out.result()
  }

  /** Decode all blocks of a posting row (verification path). */
  def decodeAll(row: PostingRow): Seq[Posting] =
    row.blocks.flatMap { b =>
      val (ds, ts, ls) = decodeBlock(b)
      ds.indices.map(i => Posting(row.term, ds(i), ts(i).toLong, ls(i).toLong))
    }
}
