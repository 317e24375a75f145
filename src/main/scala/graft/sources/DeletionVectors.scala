package graft.sources

/** Jar-free implementation of Delta Lake's DELETION VECTOR
  * serialization — the public spec's "Deletion Vector Descriptor" +
  * "Deletion Vector Format" sections (delta-io/delta PROTOCOL.md).
  * This is what lets [[DeltaMirror.readDelta]] serve a modern foreign
  * Delta table whose writer row-level-deleted with DVs (default-on in
  * current Delta writers) instead of refusing it: each live add may
  * carry a descriptor naming a roaring bitmap of DELETED row indexes
  * within that parquet file, and a conforming reader filters those
  * rows out by `_metadata.row_index`.
  *
  * Three cooperating layers, all from the public spec:
  *
  *  1. '''Z85''' (ZeroMQ base85 — the variant Delta names for DV
  *     encoding): 4 bytes -> 5 chars over the 85-char alphabet.
  *     Inline DVs ride in the descriptor as Z85 text (writers pad to
  *     a 4-byte multiple; `sizeInBytes` trims the decode), and
  *     storageType=`u` descriptors carry a Z85-encoded 16-byte UUID
  *     (always exactly 20 chars) naming the on-disk `.bin` file.
  *  2. '''RoaringBitmapArray portable format''' (64-bit values as an
  *     array of standard 32-bit roaring bitmaps): magic 1681511377
  *     (int32 LE), bitmap count (int64 LE), then per bitmap its high
  *     key (int32 LE) + a standard-portable-format 32-bit
  *     RoaringBitmap (array / bitset / run containers, per the public
  *     RoaringFormatSpec). [[RoaringArray]] parses once and answers
  *     `contains(rowIndex)` in O(log containers) with zero per-row
  *     allocation — the shape the scan-side filter needs.
  *  3. '''DV file wrapper''' for on-disk DVs (`u`/`p` storage): one
  *     format-version byte (1), then per stored DV
  *     `[dataSize int32 BE][data][crc32(data) int32 BE]`; the
  *     descriptor's `offset` points at its DV's dataSize field and
  *     `sizeInBytes` must equal it. Several files' DVs may share one
  *     `.bin` at different offsets. The CRC is VERIFIED on read —
  *     serving a corrupt bitmap would silently resurrect deleted rows
  *     (or delete live ones), so a mismatch is a loud failure.
  *
  * Scale shape: DVs are metadata-plane — each file's bitmap is
  * O(deleted rows) compressed, read once per resolution and shipped
  * to executors on the same broadcast the per-file partition values
  * already ride; the membership test per scanned row is a cached
  * bitmap probe, never IO.
  *
  * (Reference analogue: the lake the reference serves row-level
  * deletes from is Iceberg with delete files —
  * /root/reference/airflow/dags/utils/init_spark.py's catalog config;
  * this is the same capability on Delta's open format.)
  */
object DeletionVectors {

  /** Parsed Deletion Vector Descriptor (the `deletionVector` struct
    * of an add/remove action, classic-JSON or checkpoint form). */
  final case class DvDescriptor(
      storageType: String,      // "u" | "i" | "p"
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long) {
    /** The spec's logical-file identity suffix: add/remove actions
      * reconcile on (path, DV unique id), so one data file may appear
      * live under successive DVs while remove actions retire the
      * exact older pairing. */
    def uniqueId: String =
      storageType + pathOrInlineDv + offset.map("@" + _).getOrElse("")
  }

  // ------------------------------------------------------------------
  // Z85
  // ------------------------------------------------------------------

  private val Z85_ALPHABET =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Z85_DECODE: Array[Int] = {
    val m = Array.fill(128)(-1)
    Z85_ALPHABET.zipWithIndex.foreach { case (c, i) => m(c.toInt) = i }
    m
  }

  /** Z85-encode; input length must be a multiple of 4 (the caller
    * zero-pads and records the true length, per Delta's codec). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"z85 encodes 4-byte groups; got ${bytes.length} bytes — pad first")
    val sb = new java.lang.StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
      val digits = new Array[Int](5)
      var d = 4
      while (d >= 0) { digits(d) = (v % 85).toInt; v /= 85; d -= 1 }
      digits.foreach(x => sb.append(Z85_ALPHABET(x)))
      i += 4
    }
    sb.toString
  }

  /** Z85-decode to `s.length / 5 * 4` bytes (callers trim padding via
    * the descriptor's sizeInBytes). */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0,
      s"z85 text length must be a multiple of 5, got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0; var o = 0
    while (i < s.length) {
      var v = 0L
      var d = 0
      while (d < 5) {
        val c = s.charAt(i + d)
        val x = if (c < 128) Z85_DECODE(c.toInt) else -1
        require(x >= 0, s"invalid z85 character '$c' in DV descriptor")
        v = v * 85 + x
        d += 1
      }
      require(v <= 0xFFFFFFFFL,
        "z85 group overflows 4 bytes — corrupt DV descriptor")
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5; o += 4
    }
    out
  }

  /** Z85-encode a UUID (16 bytes -> exactly 20 chars) — the
    * storageType=`u` file-name payload. */
  def encodeUuid(u: java.util.UUID): String = {
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  /** Inverse of [[encodeUuid]]. */
  def decodeUuid(s: String): java.util.UUID = {
    require(s.length == 20, s"z85 uuid must be 20 chars, got ${s.length}")
    val bb = java.nio.ByteBuffer.wrap(z85Decode(s))
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  // ------------------------------------------------------------------
  // RoaringBitmapArray (portable format)
  // ------------------------------------------------------------------

  /** Magic number heading Delta's RoaringBitmapArray portable
    * serialization. */
  val PortableMagic: Int = 1681511377
  private val SERIAL_COOKIE_NO_RUN = 12346
  private val SERIAL_COOKIE_RUN = 12347
  private val NO_OFFSET_THRESHOLD = 4

  /** One parsed 16-bit-keyed container of a 32-bit roaring bitmap. */
  private sealed trait Container {
    def contains(low16: Int): Boolean
    /** The container's low-16 values, ascending. */
    def values: Iterator[Int]
  }
  private final class ArrayContainer(vals: Array[Char]) extends Container {
    def contains(low16: Int): Boolean =
      java.util.Arrays.binarySearch(vals, low16.toChar) >= 0
    def values: Iterator[Int] = vals.iterator.map(_.toInt)
  }
  private final class BitmapContainer(words: Array[Long]) extends Container {
    def contains(low16: Int): Boolean =
      (words(low16 >>> 6) & (1L << (low16 & 63))) != 0
    def values: Iterator[Int] = Iterator.range(0, 65536).filter(contains)
  }
  private final class RunContainer(starts: Array[Char], lens: Array[Char])
      extends Container {
    def contains(low16: Int): Boolean = {
      var i = java.util.Arrays.binarySearch(starts, low16.toChar)
      if (i >= 0) return true
      i = -i - 2 // last run starting at or before low16
      i >= 0 && low16 <= starts(i) + lens(i)
    }
    def values: Iterator[Int] = starts.indices.iterator.flatMap(i =>
      Iterator.range(starts(i).toInt, starts(i) + lens(i) + 1))
  }

  /** One parsed 32-bit roaring bitmap: sorted 16-bit container keys +
    * their containers. */
  private final class Roaring32(keys: Array[Char], cs: Array[Container]) {
    def contains(v32: Int): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, ((v32 >>> 16) & 0xFFFF).toChar)
      i >= 0 && cs(i).contains(v32 & 0xFFFF)
    }
    /** The unsigned 32-bit values, ascending. */
    def values: Iterator[Long] = keys.indices.iterator.flatMap(i =>
      cs(i).values.map(v => (keys(i).toLong << 16) | v))
  }

  /** A parsed 64-bit RoaringBitmapArray: membership over deleted row
    * indexes. Immutable after parse; safe to share across threads. */
  final class RoaringArray private[DeletionVectors] (
      highKeys: Array[Int], bitmaps: Array[Roaring32],
      val cardinality: Long) {
    def contains(v: Long): Boolean = {
      require(v >= 0, s"row index must be non-negative, got $v")
      val i = java.util.Arrays.binarySearch(highKeys, (v >>> 32).toInt)
      i >= 0 && bitmaps(i).contains((v & 0xFFFFFFFFL).toInt)
    }
    /** The deleted row indexes, ascending. */
    def iterator: Iterator[Long] = highKeys.indices.iterator.flatMap(i =>
      bitmaps(i).values.map(v => (highKeys(i).toLong << 32) | v))
  }

  object RoaringArray {
    /** An empty bitmap (cardinality-0 descriptors decode to this). */
    val empty = new RoaringArray(Array.emptyIntArray, Array.empty, 0L)

    /** Parse the portable serialization. Fails loudly on any
      * structural surprise — a half-parsed DV silently resurrects
      * deleted rows. */
    def deserialize(data: Array[Byte]): RoaringArray = {
      val bb = java.nio.ByteBuffer.wrap(data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = bb.getInt
      require(magic == PortableMagic,
        s"DV bitmap magic $magic != $PortableMagic — not a portable " +
          "RoaringBitmapArray (or corrupt)")
      val n = bb.getLong
      require(n >= 0 && n <= Int.MaxValue, s"absurd DV bitmap count $n")
      val highKeys = new Array[Int](n.toInt)
      val maps = new Array[Roaring32](n.toInt)
      var card = 0L
      var b = 0
      while (b < n) {
        val key = bb.getInt
        require(b == 0 || key > highKeys(b - 1),
          s"DV bitmap keys not ascending at $key")
        highKeys(b) = key
        val (r32, c) = parse32(bb)
        maps(b) = r32
        card += c
        b += 1
      }
      new RoaringArray(highKeys, maps, card)
    }

    /** One standard-portable 32-bit RoaringBitmap (little-endian), per
      * the public RoaringFormatSpec. Returns (bitmap, cardinality). */
    private def parse32(bb: java.nio.ByteBuffer): (Roaring32, Long) = {
      val cookie = bb.getInt
      val hasRuns = (cookie & 0xFFFF) == SERIAL_COOKIE_RUN
      require(hasRuns || cookie == SERIAL_COOKIE_NO_RUN,
        s"unknown roaring cookie ${cookie & 0xFFFF}")
      val size = if (hasRuns) (cookie >>> 16) + 1 else bb.getInt
      require(size >= 0 && size <= 65536, s"absurd container count $size")
      val runFlags =
        if (!hasRuns) Array.emptyByteArray
        else { val f = new Array[Byte]((size + 7) / 8); bb.get(f); f }
      def isRun(i: Int): Boolean =
        hasRuns && (runFlags(i / 8) & (1 << (i % 8))) != 0
      val keys = new Array[Char](size)
      val cards = new Array[Int](size)
      var i = 0
      while (i < size) {
        keys(i) = (bb.getShort & 0xFFFF).toChar
        cards(i) = (bb.getShort & 0xFFFF) + 1
        i += 1
      }
      // offset header: present unless runs are present AND size is
      // small; offsets are redundant for a sequential parse — skip
      if (!hasRuns || size >= NO_OFFSET_THRESHOLD)
        bb.position(bb.position() + 4 * size)
      val cs = new Array[Container](size)
      var card = 0L
      i = 0
      while (i < size) {
        card += cards(i)
        cs(i) =
          if (isRun(i)) {
            val nRuns = bb.getShort & 0xFFFF
            val starts = new Array[Char](nRuns)
            val lens = new Array[Char](nRuns)
            var r = 0
            while (r < nRuns) {
              starts(r) = (bb.getShort & 0xFFFF).toChar
              lens(r) = (bb.getShort & 0xFFFF).toChar
              r += 1
            }
            new RunContainer(starts, lens)
          } else if (cards(i) <= 4096) {
            val vals = new Array[Char](cards(i))
            var v = 0
            while (v < cards(i)) {
              vals(v) = (bb.getShort & 0xFFFF).toChar; v += 1 }
            new ArrayContainer(vals)
          } else {
            val words = new Array[Long](1024)
            bb.asLongBuffer().get(words)
            bb.position(bb.position() + 8192)
            new BitmapContainer(words)
          }
        i += 1
      }
      (new Roaring32(keys, cs), card)
    }
  }

  /** Serialize sorted-distinct row indexes as a portable
    * RoaringBitmapArray. Container choice per the format's own rule
    * (array <= 4096 values, bitset above); `runOptimize` converts a
    * container to run form when that is strictly smaller — exercised
    * by specs so the parse path covers all three container kinds, and
    * the building block for a future DV WRITE direction. */
  def serialize(sorted: Array[Long], runOptimize: Boolean = false)
      : Array[Byte] = {
    require(sorted.forall(_ >= 0), "row indexes must be non-negative")
    var i = 1
    while (i < sorted.length) {
      require(sorted(i) > sorted(i - 1),
        s"row indexes must be sorted distinct at ${sorted(i)}")
      i += 1
    }
    // group by high-32 key, then by 16-bit container key
    val byHigh = sorted.groupBy(v => (v >>> 32).toInt).toSeq.sortBy(_._1)
    val out = new java.io.ByteArrayOutputStream()
    val hdr = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(PortableMagic); hdr.putLong(byHigh.size.toLong)
    out.write(hdr.array())
    byHigh.foreach { case (high, vals) =>
      val kb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      kb.putInt(high); out.write(kb.array())
      out.write(serialize32(vals.map(v => (v & 0xFFFFFFFFL).toInt),
        runOptimize))
    }
    out.toByteArray
  }

  // per-container encoding choice + its serialized byte size — shared
  // between the batch serializer and [[StreamingSerializer]]
  private sealed trait Enc { def size: Int }
  private final case class ArrEnc(vals: Array[Int]) extends Enc {
    def size = 2 * vals.length }
  // stored as its 1024-word bitset, not the raw values: a closed
  // container must cost its SERIALIZED size (8 KB), or a dense build
  // buffers up to 64 Ki ints (256 KB) per container and the
  // StreamingSerializer's documented memory bound is off by ~32×
  private final case class BmpEnc(words: Array[Long]) extends Enc {
    def size = 8192 }
  private final case class RunEnc(runs: Array[(Int, Int)]) extends Enc {
    def size = 2 + 4 * runs.length }

  /** Encode ONE container's sorted-distinct low-16 values, picking
    * array/bitset per the format rule and run form when strictly
    * smaller (iff `runOptimize`). */
  private def encodeContainer(vs: Array[Int], runOptimize: Boolean): Enc = {
    val base: Enc =
      if (vs.length <= 4096) ArrEnc(vs)
      else {
        val words = new Array[Long](1024)
        vs.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
        BmpEnc(words)
      }
    if (!runOptimize) base else {
      val runs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var s = vs.head; var e = vs.head
      vs.tail.foreach { v =>
        if (v == e + 1) e = v
        else { runs += ((s, e - s)); s = v; e = v }
      }
      runs += ((s, e - s))
      val r = RunEnc(runs.toArray)
      if (r.size < base.size) r else base
    }
  }

  private def serialize32(low32: Array[Int], runOptimize: Boolean)
      : Array[Byte] = {
    val byKey = low32.groupBy(v => (v >>> 16) & 0xFFFF).toSeq.sortBy(_._1)
      .map { case (k, vs) => (k, vs.map(_ & 0xFFFF).sorted) }
    emitBitmap32(byKey.map { case (k, vs) =>
      (k, vs.length, encodeContainer(vs, runOptimize)) })
  }

  /** Emit one standard-portable 32-bit RoaringBitmap from its encoded
    * containers (ascending 16-bit keys). */
  private def emitBitmap32(encs: Seq[(Int, Int, Enc)]): Array[Byte] = {
    val hasRuns = encs.exists(_._3.isInstanceOf[RunEnc])
    val size = encs.size
    val bos = new java.io.ByteArrayOutputStream()
    def le(n: Int, bytes: Int): Unit = {
      var i = 0
      while (i < bytes) { bos.write((n >>> (8 * i)) & 0xFF); i += 1 }
    }
    if (hasRuns) {
      le(SERIAL_COOKIE_RUN | ((size - 1) << 16), 4)
      val flags = new Array[Byte]((size + 7) / 8)
      encs.zipWithIndex.foreach { case ((_, _, e), i) =>
        if (e.isInstanceOf[RunEnc])
          flags(i / 8) = (flags(i / 8) | (1 << (i % 8))).toByte
      }
      bos.write(flags)
    } else { le(SERIAL_COOKIE_NO_RUN, 4); le(size, 4) }
    encs.foreach { case (k, card, _) => le(k, 2); le(card - 1, 2) }
    if (!hasRuns || size >= NO_OFFSET_THRESHOLD) {
      // offset header: byte offsets of each container from the start
      // of this 32-bit bitmap's serialization
      var off = bos.size() + 4 * size
      encs.foreach { case (_, _, e) => le(off, 4); off += e.size }
    }
    encs.foreach { case (_, _, e) => e match {
      case ArrEnc(vals) => vals.foreach(le(_, 2))
      case BmpEnc(words) =>
        val bb = java.nio.ByteBuffer.allocate(8192)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        words.foreach(bb.putLong)
        bos.write(bb.array())
      case RunEnc(runs) =>
        le(runs.length, 2)
        runs.foreach { case (s, l) => le(s, 2); le(l, 2) }
    }}
    bos.toByteArray
  }

  /** Incremental portable-RoaringBitmapArray builder for EXECUTOR-side
    * deletion-vector construction: `add` ascending row indexes one at a
    * time, get the exact same bytes [[serialize]] would produce —
    * without ever materializing the index array. Memory is bounded by
    * the serialized output (capped at `maxBytes`) plus ONE open 16-bit
    * container (<= 64 Ki values): closed containers live only as their
    * final encodings. A build whose serialization exceeds `maxBytes`
    * flips to `overflowed` and frees its buffers — the caller's signal
    * to fall back to copy-on-write — while `cardinality` keeps
    * counting, so per-file delete counts stay exact either way.
    *
    * This is what lets a merge-on-read delete over a 100 TB table ship
    * only <=`maxBytes` blobs to the driver: each scan task folds its
    * sorted `_metadata.row_index` stream straight into serialized form
    * (see LakeWriter.deleteFromSnapshotMor). */
  final class StreamingSerializer(runOptimize: Boolean, maxBytes: Int) {
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    // finalized high-32 bitmaps (4-byte key + emitBitmap32 bytes each)
    private val closed = new java.io.ByteArrayOutputStream()
    private var highCount = 0L
    // encodings of closed containers within the open high-32 bitmap
    private var curEncs =
      scala.collection.mutable.ArrayBuffer[(Int, Int, Enc)]()
    private var curEncBytes = 0L
    // the one open container: sorted-distinct low-16 values
    private var curVals = scala.collection.mutable.ArrayBuffer[Int]()
    private var curHigh = 0
    private var curKey16 = 0
    private var open = false
    private var last = -1L
    private var count = 0L
    private var over = false
    private var done = false

    /** Exact number of indexes added (still counted after overflow). */
    def cardinality: Long = count

    /** True once the serialization provably exceeds `maxBytes`. */
    def overflowed: Boolean = over

    def add(ridx: Long): Unit = {
      require(!done, "add after result()")
      require(ridx >= 0, s"row indexes must be non-negative, got $ridx")
      require(ridx > last, s"row indexes must be sorted distinct at $ridx")
      last = ridx; count += 1
      if (over) return
      val high = (ridx >>> 32).toInt
      val k16 = ((ridx >>> 16) & 0xFFFF).toInt
      if (!open) { curHigh = high; curKey16 = k16; open = true }
      else if (high != curHigh) {
        closeContainer(); closeHigh(); curHigh = high; curKey16 = k16
      } else if (k16 != curKey16) { closeContainer(); curKey16 = k16 }
      curVals += (ridx & 0xFFFF).toInt
    }

    private def closeContainer(): Unit = {
      val enc = encodeContainer(curVals.toArray, runOptimize)
      curEncs += ((curKey16, curVals.length, enc))
      curEncBytes += enc.size
      curVals.clear()
      // lower bound on the final size: finalized bytes + payload bytes
      // of buffered encodings (headers only add). Never a false abort;
      // result() applies the exact check.
      if (closed.size().toLong + curEncBytes > maxBytes.toLong) overflow()
    }

    private def closeHigh(): Unit = {
      if (curEncs.nonEmpty) {
        val kb = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        kb.putInt(curHigh); closed.write(kb.array())
        closed.write(emitBitmap32(curEncs.toSeq))
        highCount += 1
        curEncs = scala.collection.mutable.ArrayBuffer()
        curEncBytes = 0L
        if (closed.size().toLong > maxBytes.toLong) overflow()
      }
    }

    private def overflow(): Unit = {
      over = true
      closed.reset()
      curEncs = scala.collection.mutable.ArrayBuffer()
      curEncBytes = 0L
      curVals = scala.collection.mutable.ArrayBuffer()
    }

    /** Finalize. None iff the serialization exceeds `maxBytes`. */
    def result(): Option[Array[Byte]] = {
      require(!done, "result() already called")
      done = true
      if (over) return None
      if (open && curVals.nonEmpty) closeContainer()
      if (open) closeHigh()
      if (over) return None
      val hdr = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hdr.putInt(PortableMagic); hdr.putLong(highCount)
      val out = new Array[Byte](12 + closed.size())
      System.arraycopy(hdr.array(), 0, out, 0, 12)
      System.arraycopy(closed.toByteArray, 0, out, 12, closed.size())
      if (out.length > maxBytes) None else Some(out)
    }
  }

  // ------------------------------------------------------------------
  // DV file wrapper (on-disk u/p storage)
  // ------------------------------------------------------------------

  /** Current (and only) DV file format version byte. */
  val FileFormatVersion: Byte = 1

  /** Resolve a descriptor's on-disk DV file path. storageType `u`:
    * `<tableRoot>/<optional prefix>/deletion_vector_<uuid>.bin` with
    * the uuid Z85-packed in the descriptor's last 20 chars;
    * storageType `p`: the descriptor IS the absolute path. */
  def dvFilePath(tableRoot: String, d: DvDescriptor)
      : org.apache.hadoop.fs.Path = d.storageType match {
    case "u" =>
      require(d.pathOrInlineDv.length >= 20,
        s"storageType=u descriptor too short: '${d.pathOrInlineDv}'")
      val prefix = d.pathOrInlineDv.dropRight(20)
      val uuid = decodeUuid(d.pathOrInlineDv.takeRight(20))
      val dirPath =
        if (prefix.isEmpty) new org.apache.hadoop.fs.Path(tableRoot)
        else new org.apache.hadoop.fs.Path(tableRoot, prefix)
      new org.apache.hadoop.fs.Path(dirPath, s"deletion_vector_$uuid.bin")
    case "p" => new org.apache.hadoop.fs.Path(d.pathOrInlineDv)
    case other => sys.error(s"no file path for storageType=$other")
  }

  /** Read + verify ONE descriptor's bitmap bytes. Inline decodes from
    * the descriptor itself; u/p seek into the `.bin` wrapper at
    * `offset`, check the recorded dataSize against the descriptor and
    * the CRC-32 against the data — any mismatch is a loud refusal
    * (a wrong bitmap silently serves deleted rows back). */
  def readBitmapBytes(fs: org.apache.hadoop.fs.FileSystem,
                      tableRoot: String, d: DvDescriptor): Array[Byte] = {
    d.storageType match {
      case "i" =>
        val raw = z85Decode(d.pathOrInlineDv)
        require(raw.length >= d.sizeInBytes,
          s"inline DV decodes to ${raw.length} bytes < declared " +
            s"sizeInBytes ${d.sizeInBytes}")
        if (raw.length == d.sizeInBytes) raw
        else java.util.Arrays.copyOf(raw, d.sizeInBytes) // trim z85 pad
      case "u" | "p" =>
        val p = dvFilePath(tableRoot, d)
        val in = fs.open(p)
        try {
          val off = d.offset.getOrElse(1) // 0 is the format-version byte
          if (off == 0) {
            val v = in.readByte()
            require(v == FileFormatVersion,
              s"$p: DV file format version $v unsupported")
          }
          in.seek(if (off == 0) 1L else off.toLong)
          val dataSize = in.readInt() // big-endian per the DV file spec
          require(dataSize == d.sizeInBytes,
            s"$p@$off: stored DV size $dataSize != descriptor " +
              s"sizeInBytes ${d.sizeInBytes} — corrupt or mis-offset")
          val data = new Array[Byte](dataSize)
          in.readFully(data)
          val crc = in.readInt()
          val c = new java.util.zip.CRC32()
          c.update(data)
          require(crc == c.getValue.toInt,
            s"$p@$off: DV checksum mismatch — refusing a corrupt " +
              "deletion vector (it would silently resurrect deleted rows)")
          data
        } finally in.close()
      case other =>
        sys.error(s"unknown DV storageType '$other' — refusing " +
          "(an unrecognized storage scheme cannot be resolved safely)")
    }
  }

  /** Write one or more DVs into a single on-disk `.bin` file (the
    * wrapper format readers seek into). Returns the per-DV offsets,
    * positionally matching `bitmaps`. Fixture/building block for the
    * write direction; the read path above is the product surface. */
  def writeDvFile(fs: org.apache.hadoop.fs.FileSystem,
                  path: org.apache.hadoop.fs.Path,
                  bitmaps: Seq[Array[Byte]]): Seq[Int] = {
    val out = fs.create(path, true)
    try {
      out.writeByte(FileFormatVersion.toInt)
      var pos = 1
      bitmaps.map { data =>
        val off = pos
        out.writeInt(data.length)
        out.write(data)
        val c = new java.util.zip.CRC32()
        c.update(data)
        out.writeInt(c.getValue.toInt)
        pos += 4 + data.length + 4
        off
      }
    } finally out.close()
  }
}
