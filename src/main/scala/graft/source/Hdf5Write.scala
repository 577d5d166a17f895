package graft.source

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

/** Pure-JVM writer for netCDF-4-shaped HDF5 files (K1 compression
  * parity — the reference's slice writer emits netCDF-4 with zlib
  * level 9, ref generator.py:969-977). Written from the public HDF5
  * format spec, mirroring what the netCDF-4 C library produces with
  * its default "earliest" compatibility settings: superblock v0,
  * version-1 object headers, a symbol-table root group (B-tree v1 +
  * local heap + SNOD), coordinate variables as dimension scales
  * (CLASS/NAME attributes), data variables carrying DIMENSION_LIST
  * vlen-of-object-reference attributes through one global heap
  * collection, 1-D coordinates contiguous, n-D payloads chunked with
  * shuffle + deflate.
  *
  * Same API shape as [[NetCdf.write]] so the per-slice sink (K1) can
  * switch formats with a flag. All payloads are float64, attributes
  * are text — exactly the classic writer's envelope.
  *
  * Deliberate simplifications (documented, reader-compatible): one
  * B-tree leaf per chunked dataset (entries fit easily at slice
  * scale — a real multi-node tree only matters past ~64k chunks per
  * variable) and no REFERENCE_LIST back-pointers on the scales
  * (informational; h5netcdf tolerates their absence).
  */
object Hdf5Write {

  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  // registered-filter fixture parameters: lz4 sub-block bytes (32004)
  // and bitshuffle block elements (32008; multiple of 8)
  private val regLz4Block = 65536
  private val regBitshufBlockElems = 1024

  /** Category map of enum-typed (elem = 1) variables: the CF
    * surface-type flag vocabulary a sea-ice mask carries. Fixed so the
    * reader's decoded enum_names/enum_values attrs are assertable.
    */
  val EnumMembers: Seq[(String, Int)] =
    Seq("ocean" -> 0, "ice" -> 1, "land" -> 2, "missing" -> 3)
  // enum datatype message body: 8 (enum header) + 12 (int8 base:
  // 8-byte header + bit offset/precision) + padded names + 1-byte values
  private def enumTypeBody: Int =
    8 + 12 + EnumMembers.map(m => pad8(m._1.length + 1)).sum + EnumMembers.size

  /** Position-addressed write sink: the renderer emits absolute-addressed
    * segments, so output can be an in-memory array (small slice files) or
    * a RandomAccessFile (unbounded; holes stay sparse — how the >2 GiB
    * reader fixture is generated without 2 GiB of I/O or heap).
    */
  private trait WSink { def writeAt(pos: Long, data: Array[Byte], off: Int, len: Int): Unit }

  private final class ArraySink(a: Array[Byte]) extends WSink {
    def writeAt(pos: Long, data: Array[Byte], off: Int, len: Int): Unit =
      System.arraycopy(data, off, a, pos.toInt, len)
  }

  private final class FileSink(raf: java.io.RandomAccessFile) extends WSink {
    def writeAt(pos: Long, data: Array[Byte], off: Int, len: Int): Unit = {
      raf.seek(pos); raf.write(data, off, len)
    }
  }

  /** Little-endian cursor over a [[WSink]] — the ByteBuffer-shaped subset
    * the renderer uses, with Long positions.
    */
  private final class W(sink: WSink) {
    private var pos = 0L
    private val tmp = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    def position(): Long = pos
    def seekTo(a: Long): W = { pos = a; this }
    private def flush(n: Int): Unit = {
      sink.writeAt(pos, tmp.array(), 0, n); pos += n
    }
    def put(x: Byte): Unit = { tmp.clear(); tmp.put(x); flush(1) }
    def put(xs: Array[Byte]): Unit = {
      sink.writeAt(pos, xs, 0, xs.length); pos += xs.length
    }
    def putShort(x: Short): Unit = { tmp.clear(); tmp.putShort(x); flush(2) }
    def putInt(x: Int): Unit = { tmp.clear(); tmp.putInt(x); flush(4) }
    def putLong(x: Long): Unit = { tmp.clear(); tmp.putLong(x); flush(8) }
    def putDouble(x: Double): Unit = { tmp.clear(); tmp.putDouble(x); flush(8) }
  }

  /** Jenkins lookup3 (`hashlittle`, public domain, Bob Jenkins 2006) —
    * HDF5's metadata checksum and the name hash of v2 B-tree link
    * records (H5_checksum_lookup3). Needed to emit spec-valid dense
    * groups; written from the published algorithm.
    */
  private[source] object Lookup3 {
    private def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    def hash(data: Array[Byte], init: Int = 0): Int = {
      var a = 0xdeadbeef + data.length + init
      var b = a; var c = a
      var i = 0; var len = data.length
      def u(x: Int): Int = data(x) & 0xFF
      while (len > 12) {
        a += u(i) + (u(i + 1) << 8) + (u(i + 2) << 16) + (u(i + 3) << 24)
        b += u(i + 4) + (u(i + 5) << 8) + (u(i + 6) << 16) + (u(i + 7) << 24)
        c += u(i + 8) + (u(i + 9) << 8) + (u(i + 10) << 16) + (u(i + 11) << 24)
        a -= c; a ^= rot(c, 4); c += b
        b -= a; b ^= rot(a, 6); a += c
        c -= b; c ^= rot(b, 8); b += a
        a -= c; a ^= rot(c, 16); c += b
        b -= a; b ^= rot(a, 19); a += c
        c -= b; c ^= rot(b, 4); b += a
        i += 12; len -= 12
      }
      if (len == 0) return c // empty tail: no final mix (hashlittle case 0)
      if (len >= 1) a += u(i)
      if (len >= 2) a += u(i + 1) << 8
      if (len >= 3) a += u(i + 2) << 16
      if (len >= 4) a += u(i + 3) << 24
      if (len >= 5) b += u(i + 4)
      if (len >= 6) b += u(i + 5) << 8
      if (len >= 7) b += u(i + 6) << 16
      if (len >= 8) b += u(i + 7) << 24
      if (len >= 9) c += u(i + 8)
      if (len >= 10) c += u(i + 9) << 8
      if (len >= 11) c += u(i + 10) << 16
      if (len >= 12) c += u(i + 11) << 24
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
      c
    }
  }

  /** Split plan for a version-2 B-tree index at a given node size, ANY
    * depth: depth 0 (one BTLF leaf) while records fit, then BTIN
    * internal levels added as capacities overflow — the same growth
    * steps libhdf5 takes. Geometry (capacity recurrence, pointer field
    * widths) is shared with the reader ([[Hdf5.V2BtreeGeometry]]) so
    * both sides derive identical layouts. Nodes are exposed in PREORDER
    * with their on-disk sizes, so callers allocate one address per node
    * and [[Hdf5Write]] renders the standard in-order record layout
    * (child, separator, child, …).
    */
  private final case class V2TreePlan(nodeSize: Int, recordSize: Int, n: Int) {
    val depth: Int = {
      var d = 0
      while (Hdf5.V2BtreeGeometry(nodeSize, recordSize, d).cumMax(d) < n) {
        d += 1
        // a node too small to hold one internal record stalls the
        // capacity recurrence (cumMax stops growing) — fail, don't spin
        require(d <= 32 &&
          Hdf5.V2BtreeGeometry(nodeSize, recordSize, d).intMax(d) >= 1,
          s"v2 B-tree node size $nodeSize cannot index $n records " +
            s"of $recordSize bytes")
      }
      d
    }
    val geo: Hdf5.V2BtreeGeometry =
      Hdf5.V2BtreeGeometry(nodeSize, recordSize, depth)

    /** nrec = records held by THIS node (leaf contents or separators). */
    final case class PNode(d: Int, nrec: Int, children: Seq[PNode])
    private def build(d: Int, count: Int): PNode =
      if (d == 0) PNode(0, count, Nil)
      else {
        // c children, c-1 separators, even split; each child subtree
        // must fit its depth's cumulative capacity
        var c = 2
        while ((count - (c - 1) + c - 1) / c > geo.cumMax(d - 1)) c += 1
        require(c <= geo.intMax(d) + 1,
          s"v2 B-tree split overflow: $count records, depth $d")
        val data = count - (c - 1)
        val per = (0 until c).map(i => data / c + (if (i < data % c) 1 else 0))
        PNode(d, c - 1, per.map(build(d - 1, _)))
      }
    val root: PNode = build(depth, n)
    /** preorder node list — allocation order for writers */
    val nodesPre: Seq[PNode] = {
      def walk(nd: PNode): Seq[PNode] = nd +: nd.children.flatMap(walk)
      walk(root)
    }
    def nodeSizes: Seq[Long] = nodesPre.map(nd => geo.nodeBytes(nd.d, nd.nrec))
  }

  /** Generalized fractal-heap fixture plan: greedy placement of
    * objects into the doubling table's direct blocks in heap-offset
    * order, recursing into child INDIRECT blocks past `maxDirectRows`
    * — the geometry the reader's dense-group walk must reproduce.
    * Objects never span blocks (the library's rule); blocks holding no
    * object stay unallocated (Undefined entries).
    */
  private[source] final class FHeapPlan(objSizes: Seq[Int], val start: Long,
                                        val maxDirect: Long, val width: Int) {
    val hdr = 17 // FHDB: sig(4) + ver(1) + heap addr(8) + 4-byte offset
    private def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val maxDirectRows: Int = log2(maxDirect) - log2(start) + 2
    def rowSize(r: Int): Long = if (r < 2) start else start << (r - 1)
    def nrowsFor(covered: Long): Int = log2(covered) - log2(start * width) + 1
    private def rowStart(r: Int): Long =
      (0 until r).map(q => width * rowSize(q)).sum

    /** offset-ordered direct blocks of the (unbounded) root table */
    private def blocksUnder(base: Long, nrows: Int): Iterator[(Long, Long)] =
      (0 until nrows).iterator.flatMap { r =>
        val sz = rowSize(r)
        (0 until width).iterator.flatMap { c =>
          val off = base + rowStart(r) + c * sz
          if (r < maxDirectRows) Iterator((off, sz))
          else blocksUnder(off, nrowsFor(sz))
        }
      }

    val objOff: Array[Long] = new Array[Long](objSizes.length)
    /** (blockOff, blockSize) → object indices, placement order */
    val dblocks: Seq[(Long, Long, Seq[Int])] = {
      val used = scala.collection.mutable.LinkedHashMap
        .empty[(Long, Long), scala.collection.mutable.ListBuffer[Int]]
      val it = blocksUnder(0L, 48)
      var cur = it.next()
      var cursor = cur._1 + hdr
      objSizes.zipWithIndex.foreach { case (sz, i) =>
        require(sz + hdr <= maxDirect, s"object of $sz bytes exceeds heap blocks")
        while (cursor + sz > cur._1 + cur._2) {
          cur = it.next(); cursor = cur._1 + hdr
        }
        objOff(i) = cursor
        used.getOrElseUpdate(cur, scala.collection.mutable.ListBuffer()) += i
        cursor += sz
      }
      used.toSeq.map { case ((o, s), is) => (o, s, is.toSeq) }
    }
    val lastEnd: Long = dblocks.map(d => d._1 + d._2).max
    /** single block at offset 0 → root stays a DIRECT block (curRows 0) */
    val singleBlock: Boolean = dblocks.size == 1 && dblocks.head._1 == 0
    val rootRows: Int = if (singleBlock) 0 else {
      var n = 0
      while (rowStart(n) < lastEnd) n += 1
      n
    }
    /** (heapOff, nrows) per indirect block, preorder; head = root */
    val inodes: Seq[(Long, Int)] =
      if (singleBlock) Nil
      else {
        val buf = scala.collection.mutable.ListBuffer.empty[(Long, Int)]
        def anyUsed(base: Long, covered: Long): Boolean =
          dblocks.exists(d => d._1 >= base && d._1 < base + covered)
        def visit(base: Long, nrows: Int): Unit = {
          buf += ((base, nrows))
          (maxDirectRows until nrows).foreach { r =>
            (0 until width).foreach { c =>
              val off = base + rowStart(r) + c * rowSize(r)
              if (anyUsed(off, rowSize(r))) visit(off, nrowsFor(rowSize(r)))
            }
          }
        }
        visit(0L, rootRows)
        buf.toList
      }
    def iblockSize(nrows: Int, filtered: Boolean): Long =
      17L + (0 until nrows).map { r =>
        if (r < maxDirectRows) width.toLong * (if (filtered) 20 else 8)
        else width.toLong * 8
      }.sum + 4L
    /** row/col slots of an indirect node, render order: Left(directOff)
      * or Right(childOff)
      */
    def slots(base: Long, nrows: Int): Seq[Either[Long, Long]] =
      (0 until nrows).flatMap { r =>
        (0 until width).map { c =>
          val off = base + rowStart(r) + c * rowSize(r)
          if (r < maxDirectRows) Left(off) else Right(off)
        }
      }
  }

  /** Chunk shape: start from the full variable shape and halve the
    * largest dimension until ≤ 256k elements (2 MB of float64) — a
    * deterministic rule that keeps chunks worker-memory-friendly and
    * yields multiple chunks for real slice shapes.
    */
  def chunkShape(dims: Seq[Int], maxElems: Int = 262144): Seq[Int] = {
    val c = dims.map(math.max(_, 1)).toArray
    while (c.map(_.toLong).product > maxElems) {
      val i = c.indices.maxBy(c(_))
      c(i) = (c(i) + 1) / 2
    }
    c.toSeq
  }

  def write(dims: Seq[(String, Int)], gatts: Seq[(String, String)],
            vars: Seq[NetCdf.VarSpec], deflateLevel: Int = 9,
            shuffle: Boolean = true,
            maxChunkElems: Int = 262144,
            denseRoot: Boolean = false,
            denseAttrs: Boolean = false,
            v4Layout: Boolean = false,
            denseNodeSize: Int = 2048,
            v4PageBits: Int = 10,
            v4Index: Int = 3,
            eaPageBits: Int = EaPageBits,
            sharedDatatype: Boolean = false,
            unlimitedDims: Set[String] = Set.empty,
            denseHeapGeom: Option[(Long, Long, Int)] = None,
            denseHeapFiltered: Boolean = false,
            halfVars: Set[String] = Set.empty,
            regFilter: Option[String] = None,
            enumVars: Set[String] = Set.empty): Array[Byte] = {
    var arr: Array[Byte] = null
    render(dims, gatts, vars, deflateLevel, shuffle, maxChunkElems,
      dataBase = 0L, denseRoot = denseRoot, denseAttrs = denseAttrs,
      v4Layout = v4Layout, denseNodeSize = denseNodeSize,
      v4PageBits = v4PageBits, v4Index = v4Index, eaPageBits = eaPageBits,
      sharedDatatype = sharedDatatype, enumVars = enumVars,
      unlimitedDims = unlimitedDims, denseHeapGeom = denseHeapGeom,
      denseHeapFiltered = denseHeapFiltered, halfVars = halfVars,
      regFilter = regFilter,
      mkSink = { eof =>
        require(eof <= Int.MaxValue,
          s"in-memory render of $eof bytes; use writeFile for large output")
        arr = new Array[Byte](eof.toInt)
        new ArraySink(arr)
      })
    arr
  }

  /** Render straight to a file. `dataBase` pushes the data region (chunk
    * payloads onward) to at least that offset, leaving a hole the
    * filesystem keeps sparse — a cheap way to produce structurally-valid
    * archives larger than 2 GiB (all internal addresses are 8-byte, so
    * readers must handle >Int.MaxValue offsets).
    */
  def writeFile(path: java.nio.file.Path, dims: Seq[(String, Int)],
                gatts: Seq[(String, String)], vars: Seq[NetCdf.VarSpec],
                deflateLevel: Int = 9, shuffle: Boolean = true,
                maxChunkElems: Int = 262144, dataBase: Long = 0L,
                denseRoot: Boolean = false,
                denseAttrs: Boolean = false,
                v4Layout: Boolean = false,
                denseNodeSize: Int = 2048,
                v4PageBits: Int = 10,
                v4Index: Int = 3,
                eaPageBits: Int = EaPageBits,
                sharedDatatype: Boolean = false,
                unlimitedDims: Set[String] = Set.empty,
                denseHeapGeom: Option[(Long, Long, Int)] = None,
                denseHeapFiltered: Boolean = false,
                halfVars: Set[String] = Set.empty,
                regFilter: Option[String] = None): Unit = {
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      raf.setLength(0)
      render(dims, gatts, vars, deflateLevel, shuffle, maxChunkElems,
        dataBase, denseRoot, denseAttrs, v4Layout, denseNodeSize, v4PageBits,
        v4Index, unlimitedDims, denseHeapGeom, denseHeapFiltered, halfVars,
        regFilter, eaPageBits = eaPageBits, sharedDatatype = sharedDatatype,
        mkSink = { eof => raf.setLength(eof); new FileSink(raf) })
    } finally raf.close()
  }

  // Extensible Array creation parameters the fixture writer uses —
  // deliberately small so a ~100-chunk dataset exercises every tier
  // (index-block elements, inlined data blocks, super blocks, PAGED
  // data blocks). Readers must honor whatever the EAHD carries, so
  // these differing from libhdf5's defaults (32/4/4/16/10) is part of
  // the point.
  private val EaMaxBits = 32   // log2(max elements) → 4-byte block offsets
  private val EaIdxElmts = 2   // elements stored in the index block
  private val EaMinPtrs = 2    // super-block min data-block pointers
  private val EaMinElmts = 4   // min elements per data block
  private val EaPageBits = 3   // page = 8 elements
  private val EaElemSize = 16  // client 1: addr(8) + size(4) + mask(4)

  private def log2i(x: Int): Int = 31 - Integer.numberOfLeadingZeros(x)

  /** Doubling geometry of the fixture's Extensible Array: which data
    * blocks exist for `n` chunks, their element spans, paging, and the
    * block sizes — shared by allocation and rendering.
    */
  private final case class EaPlan(n: Int, pageBits: Int = EaPageBits) {
    val nsblks: Int = 1 + (EaMaxBits - log2i(EaMinElmts)) / 2
    val sblkFirstIdx: Int = 2 * log2i(EaMinPtrs)
    val ndblkAddrs: Int = 2 * (EaMinPtrs - 1)
    val nsblkAddrs: Int = nsblks - sblkFirstIdx
    val pageNelmts: Long = 1L << pageBits
    def ndblks(u: Int): Long = 1L << (u / 2)
    def dblkNelmts(u: Int): Long = (1L << ((u + 1) / 2)) * EaMinElmts
    val startIdx: Array[Long] = {
      val a = new Array[Long](nsblks)
      (1 until nsblks).foreach(u =>
        a(u) = a(u - 1) + ndblks(u - 1) * dblkNelmts(u - 1))
      a
    }
    /** chunks past the index block's inline elements */
    val m: Long = math.max(0L, n.toLong - EaIdxElmts)
    /** (sblk, dblk, firstElementIdx, nelmts, npages) for every data
      * block holding at least one of the n chunks; npages = 0 when the
      * block is unpaged
      */
    val dblks: Seq[(Int, Int, Long, Long, Int)] =
      (0 until nsblks).flatMap { u =>
        (0 until ndblks(u).toInt).flatMap { d =>
          val from = startIdx(u) + d * dblkNelmts(u)
          if (from >= m) Nil
          else {
            val ne = dblkNelmts(u)
            val np = if (ne > pageNelmts) (ne / pageNelmts).toInt else 0
            Seq((u, d, EaIdxElmts + from, ne, np))
          }
        }
      }
    val sblksNeeded: Seq[Int] =
      dblks.map(_._1).distinct.filter(_ >= sblkFirstIdx)
    // prefix: sig(4) + ver(1) + client(1) + hdrAddr(8) + blockOff(4) = 18
    def dblkSize(nelmts: Long, npages: Int): Long =
      if (npages == 0) 18L + nelmts * EaElemSize + 4L
      else 18L + 4L + npages.toLong * (pageNelmts * EaElemSize + 4L)
    def sblkSize(u: Int): Long = {
      val np = if (dblkNelmts(u) > pageNelmts)
        (dblkNelmts(u) / pageNelmts).toInt else 0
      18L + (if (np > 0) (ndblks(u) * np + 7) / 8 else 0L) +
        ndblks(u) * 8L + 4L
    }
    val iblockSize: Long =
      14L + EaIdxElmts.toLong * EaElemSize + (ndblkAddrs + nsblkAddrs) * 8L + 4L
  }

  /** `denseRoot = true` stores the root group's links DENSE — link
    * messages in a fractal heap indexed by a name v2 B-tree — instead of
    * the symbol-table layout. This is the "latest"-format group layout
    * h5py/libhdf5 emit once a group outgrows compact storage; the writer
    * emits it to pin the reader's dense-group walk against a real file
    * (one root direct block, depth-0 B-tree — enough for hundreds of
    * variables; checksums and name hashes are real lookup3).
    */
  private def render(dims: Seq[(String, Int)], gatts: Seq[(String, String)],
                     vars: Seq[NetCdf.VarSpec], deflateLevel: Int,
                     shuffle: Boolean, maxChunkElems: Int,
                     dataBase: Long, denseRoot: Boolean, denseAttrs: Boolean,
                     v4Layout: Boolean, denseNodeSize: Int, v4PageBits: Int,
                     v4Index: Int, unlimitedDims: Set[String],
                     denseHeapGeom: Option[(Long, Long, Int)],
                     denseHeapFiltered: Boolean,
                     halfVars: Set[String],
                     regFilter: Option[String],
                     mkSink: Long => WSink,
                     eaPageBits: Int,
                     sharedDatatype: Boolean,
                     enumVars: Set[String] = Set.empty): Unit = {
    val dimLen = dims.toMap
    require(v4Index == 3 || v4Index == 4 || v4Index == 5,
      s"v4Index $v4Index (3 = Fixed Array, 4 = Extensible Array, 5 = v2 B-tree)")

    // ---- dataset plans: dimension scales first (file order matches
    // netCDF-4: dims then data vars), then the payload variables
    // elem: on-disk float width — 8 (float64, default) or 2 (IEEE
    // binary16 for names in `halfVars`, payload variables only)
    final case class Plan(name: String, shape: Seq[Int], data: Array[Double],
                          attrs: Seq[(String, String)], isScale: Boolean,
                          varDims: Seq[String],
                          numAttrs: Seq[(String, Double)] = Seq.empty,
                          elem: Int = 8)
    val byName = vars.map(v => v.name -> v).toMap
    val scales = dims.map { case (n, len) =>
      byName.get(n) match {
        case Some(v) =>
          require(v.data.length == len, s"coord $n length ${v.data.length} != dim $len")
          Plan(n, Seq(len), v.data, v.attrs, isScale = true, Seq(n), v.numAttrs)
        case None => // dimension without a coordinate variable
          Plan(n, Seq(len), new Array[Double](len),
            Seq.empty, isScale = true, Seq(n))
      }
    }
    val payloads = vars.filterNot(v => dimLen.contains(v.name)).map { v =>
      val shape = v.dims.map(d => dimLen.getOrElse(d,
        throw new IllegalArgumentException(s"unknown dim $d of ${v.name}")))
      require(v.data.length == shape.product,
        s"${v.name}: ${v.data.length} values for shape $shape")
      Plan(v.name, shape, v.data, v.attrs, isScale = false, v.dims, v.numAttrs,
        elem = if (enumVars(v.name)) 1 else if (halfVars(v.name)) 2 else 8)
    }
    val plans = scales ++ payloads

    // ---- compress chunks (content-dependent sizes must precede layout)
    final case class Chunks(cdims: Seq[Int], list: Seq[(Array[Long], Array[Byte])])
    val chunked: Map[String, Chunks] = payloads.map { p =>
      val cdims = chunkShape(p.shape, maxChunkElems)
      val origins = cartesian(p.shape.zip(cdims).map { case (d, c) =>
        0L until d.toLong by c.toLong
      })
      val list = origins.map { o =>
        val slice = sliceChunk(p.data, p.shape, o, cdims)
        val raw = floatBytes(slice, p.elem)
        val enc = regFilter match {
          case Some("lz4") => H5Filters.lz4Encode(raw, regLz4Block)
          case Some("bitshuffle-lz4") =>
            H5Filters.bitshuffleEncode(raw, p.elem, regBitshufBlockElems)
          case Some("zstd") => H5Filters.zstdEncode(raw)
          case Some("szip") =>
            H5Filters.szipEncode(raw, Seq(169, p.elem * 8, 16, 64))
          case Some(other) =>
            throw new IllegalArgumentException(s"regFilter $other")
          case None =>
            val shuffled = if (shuffle) shuffleBytes(raw, p.elem) else raw
            deflate(shuffled, deflateLevel)
        }
        o.toArray -> enc
      }
      p.name -> Chunks(cdims, list)
    }.toMap

    // ---- size everything, then assign addresses sequentially
    // registered filters (hdf5plugin ids): (id, name, cd_values(elem));
    // the name is stored padded to 8 with its length recorded PADDED,
    // matching libhdf5's v1 pipeline encoding
    val regEntry: Option[(Int, String, Int => Seq[Int])] = regFilter.map {
      case "lz4" => (32004, "lz4", (_: Int) => Seq(regLz4Block))
      case "bitshuffle-lz4" =>
        (32008, "bitshuffle",
          (elem: Int) => Seq(0, 0, elem, regBitshufBlockElems, 2))
      case "zstd" => (32015, "zstd", (_: Int) => Seq(3))
      // szip (filter 4): raw+NN+LSB+K13 mask, block 16, scanline 64 —
      // H5Zszip-shaped cd over binary16 payloads (the 8/16-bit integer
      // and half-float regime NASA EOS archives sit in)
      case "szip" => (4, "szip", (elem: Int) => Seq(169, elem * 8, 16, 64))
      case other => throw new IllegalArgumentException(s"regFilter $other")
    }
    val filtersBody = regEntry match {
      case Some((_, name, cdFor)) =>
        val cd = cdFor(8)
        8 + 8 + pad8(name.length + 1) + 4 * cd.length +
          (if (cd.length % 2 == 1) 4 else 0)
      case None => 8 + (if (shuffle) 16 else 0) + 16
    }
    // NB the whole attr body is padded to 8 inside the message framing:
    def attrMsgSize(nameLen: Int, dtSize: Int, dsSize: Int, dataSize: Int): Int =
      8 + pad8(8 + pad8(nameLen + 1) + pad8(dtSize) + pad8(dsSize) + dataSize)
    def msg(body: Int): Int = 8 + pad8(body)

    def unlimMask(p: Plan): Seq[Boolean] =
      if (p.isScale) p.shape.map(_ => false)
      else p.varDims.map(unlimitedDims.contains)

    def ohSize(p: Plan): Int = {
      val rank = p.shape.length
      val dsBody = 8 + rank * 8 +
        (if (unlimMask(p).exists(identity)) rank * 8 else 0)
      val core = msg(dsBody) + // dataspace v1 (+ maxdims when unlimited)
        (if (p.elem == 1) msg(enumTypeBody)
         else if (sharedDatatype && p.elem == 8) msg(10)
         else msg(20)) + // datatype
        msg(2) + // fill v3 (undefined)
        (if (p.isScale) msg(18) // contiguous layout
         else (if (v4Layout) {
                 // v4: Single Chunk (filtered info inline), Fixed
                 // Array, Extensible Array or v2 B-tree
                 val n = chunked(p.name).list.size
                 msg(v4Index match {
                   case 4 => 19 + rank * 4
                   case 5 => 20 + rank * 4
                   case _ => if (n == 1) 26 + rank * 4 else 15 + rank * 4
                 })
               }
               else msg(3 + 8 + (rank + 1) * 4)) + msg(filtersBody))
      val scaleAttrs = if (p.isScale)
        attrMsgSize("CLASS".length, 8, 8, "DIMENSION_SCALE".length + 1) +
        attrMsgSize("NAME".length, 8, 8, p.name.length + 1)
      else attrMsgSize("DIMENSION_LIST".length, 16, 16, rank * 16)
      val userAttrs = p.attrs.map { case (k, v) =>
        attrMsgSize(k.length, 8, 8, v.length + 1)
      }.sum + p.numAttrs.map { case (k, _) =>
        if (sharedDatatype) // v2 attr, shared-record datatype, unpadded
          msg(8 + (k.length + 1) + 10 + 8 + 8)
        else attrMsgSize(k.length, 20, 8, 8) // float64 scalar attribute
      }.sum
      16 + core + scaleAttrs + userAttrs
    }

    val nHeapObjs = payloads.map(_.shape.length).sum
    val gcolSize = if (nHeapObjs == 0) 0 else 16 + nHeapObjs * 24 + 16

    var cursor = 96L // after superblock v0
    if (dataBase > 0) cursor = math.max(cursor, dataBase) // sparse hole
    def alloc(n: Long): Long = { val a = cursor; cursor += n; a }

    // committed (named) float64 datatype: its own v1 object header whose
    // single message every float64 dataset references through a SHARED
    // datatype record (v3, type 2) instead of an inline message
    val namedTypeAddr = if (sharedDatatype) alloc(48L) else Hdf5.Undefined

    // chunk data + per-dataset chunk indexes (or contiguous data): a v1
    // B-tree per payload in the default "earliest" rendering, an FAHD +
    // FADB Fixed Array per payload in the v4 ("latest") rendering
    val dataAddr = scala.collection.mutable.Map[String, Long]()
    val chunkAddrs = scala.collection.mutable.Map[String, Seq[Long]]()
    val btreeAddr = scala.collection.mutable.Map[String, Long]()
    val faHdrAddr = scala.collection.mutable.Map[String, Long]()
    val faDbAddr = scala.collection.mutable.Map[String, Long]()
    val eaHdrAddr = scala.collection.mutable.Map[String, Long]()
    val eaIbAddr = scala.collection.mutable.Map[String, Long]()
    val eaSblkAddr = scala.collection.mutable.Map[(String, Int), Long]()
    val eaDblkAddr = scala.collection.mutable.Map[(String, Int, Int), Long]()
    val bt2HdrAddr = scala.collection.mutable.Map[String, Long]()
    val bt2NodeAddrs = scala.collection.mutable.Map[String, Seq[Long]]()
    val bt2Plans = scala.collection.mutable.Map[String, V2TreePlan]()
    plans.foreach { p =>
      if (p.isScale) {
        dataAddr(p.name) = alloc(p.data.length.toLong * 8)
      } else {
        val c = chunked(p.name)
        chunkAddrs(p.name) = c.list.map { case (_, bytes) => alloc(bytes.length.toLong) }
        if (v4Layout && v4Index == 4) {
          val ea = EaPlan(c.list.size, eaPageBits)
          eaHdrAddr(p.name) = alloc(72L)
          eaIbAddr(p.name) = alloc(ea.iblockSize)
          ea.sblksNeeded.foreach { u =>
            eaSblkAddr(p.name -> u) = alloc(ea.sblkSize(u))
          }
          ea.dblks.foreach { case (u, d, _, ne, np) =>
            eaDblkAddr((p.name, u, d)) = alloc(ea.dblkSize(ne, np))
          }
        } else if (v4Layout && v4Index == 5) {
          val rank = p.shape.length
          val plan = V2TreePlan(denseNodeSize, 16 + 8 * rank, c.list.size)
          bt2Plans(p.name) = plan
          bt2HdrAddr(p.name) = alloc(38L)
          bt2NodeAddrs(p.name) = plan.nodeSizes.map(alloc)
        } else if (v4Layout) {
          // single-chunk datasets use the Single Chunk index (the
          // address lives in the layout message itself) — no FAHD/FADB
          if (c.list.size > 1) {
            faHdrAddr(p.name) = alloc(28L)
            val n = c.list.size.toLong
            val pageSize = 1L << v4PageBits
            faDbAddr(p.name) = alloc(
              if (n <= pageSize) 14L + n * 16L + 4L
              else { // paged: bitmap + block checksum, then per-page cksums
                val nPages = (n + pageSize - 1) / pageSize
                14L + (nPages + 7) / 8 + 4L + n * 16L + nPages * 4L
              })
          }
        } else {
          val rank = p.shape.length
          val keySize = 8 + (rank + 1) * 8
          btreeAddr(p.name) = alloc(24L + c.list.size * (keySize + 8) + keySize)
        }
      }
    }
    val gcolAddr = if (gcolSize > 0) alloc(gcolSize.toLong) else Hdf5.Undefined
    val ohAddr = plans.map(p => p.name -> alloc(ohSize(p).toLong)).toMap

    // root group, symbol-table layout: local heap (8-byte reserved head +
    // padded names), SNOD, B-tree leaf, root object header
    val sortedNames = plans.map(_.name).sorted
    val nameOffsets = {
      var off = 8L
      sortedNames.map { n => val o = off; off += pad8(n.length + 1); n -> o }.toMap
    }
    val heapDataSize = 8L + sortedNames.map(n => pad8(n.length + 1).toLong).sum
    val heapAddr = if (denseRoot) Hdf5.Undefined else alloc(32L + heapDataSize)
    val snodAddr = if (denseRoot) Hdf5.Undefined else alloc(8L + plans.size * 40L)
    val gBtreeAddr = if (denseRoot) Hdf5.Undefined else alloc(48L)

    // root group, dense layout: link messages as managed objects in one
    // fractal-heap direct block + a depth-0 name v2 B-tree. Heap ID
    // geometry: 32-bit heap space (4-byte offsets) + 2-byte lengths → the
    // canonical 7-byte IDs, record size 4 (hash) + 7 = 11.
    val denseLinkSize: Map[String, Int] =
      plans.map(p => p.name -> (3 + p.name.length + 8)).toMap
    val denseDblockHdr = 17 // FHDB: sig(4) + ver(1) + heap addr(8) + off(4)
    // `advancedHeap` switches the dense-root heap to the generalized
    // multi-block plan: custom doubling-table geometry (child indirect
    // recursion) and/or I/O-filtered (deflated) direct blocks
    val advancedHeap = denseRoot &&
      (denseHeapGeom.isDefined || denseHeapFiltered)
    val fplan: Option[FHeapPlan] =
      if (!advancedHeap) None
      else {
        val (st, mx, w) = denseHeapGeom.getOrElse((512L, 65536L, 4))
        Some(new FHeapPlan(sortedNames.map(denseLinkSize), st, mx, w))
      }
    val denseObjOffset: Map[String, Long] = fplan match {
      case Some(fp) =>
        sortedNames.zipWithIndex.map { case (n, i) => n -> fp.objOff(i) }.toMap
      case None =>
        var off = denseDblockHdr.toLong
        sortedNames.map { n => val o = off; off += denseLinkSize(n); n -> o }.toMap
    }
    val denseDblockSize: Long = {
      val need = denseDblockHdr.toLong +
        sortedNames.map(denseLinkSize(_).toLong).sum
      var s = 512L
      while (s < need) s <<= 1
      require(advancedHeap || s <= 65536L,
        s"dense root needs $need bytes (> max direct block)")
      s
    }
    val linkTree = V2TreePlan(denseNodeSize, 11, plans.size)
    // deflate-6 pipeline message: the filtered heap's I/O filter info
    val heapFilterInfoLen = 24
    val frhpAddr =
      if (denseRoot)
        alloc(if (denseHeapFiltered) 146L + 12L + heapFilterInfoLen else 146L)
      else Hdf5.Undefined
    val denseDblockAddr =
      if (denseRoot && !advancedHeap) alloc(denseDblockSize) else Hdf5.Undefined
    def linkMsgBytes(n: String): Array[Byte] = {
      val bb = ByteBuffer.allocate(denseLinkSize(n))
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte); bb.put(0.toByte) // version, flags (1-byte length)
      bb.put(n.length.toByte)
      bb.put(n.getBytes(StandardCharsets.US_ASCII))
      bb.putLong(ohAddr(n))
      bb.array()
    }
    /** nominal direct-block image: FHDB header + objects at their heap
      * offsets (shared by the plain write and the pre-compression pass)
      */
    def fheapBlockImage(fp: FHeapPlan, off: Long, size: Long,
                        objIdxs: Seq[Int]): Array[Byte] = {
      val img = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
      img.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      img.put(0.toByte)
      img.putLong(frhpAddr)
      img.putInt(off.toInt)
      objIdxs.foreach { i =>
        img.position((fp.objOff(i) - off).toInt)
        img.put(linkMsgBytes(sortedNames(i)))
      }
      img.array()
    }
    val fheapInodeAddr: Map[Long, Long] = fplan.map { fp =>
      fp.inodes.map { case (off, nr) =>
        off -> alloc(fp.iblockSize(nr, denseHeapFiltered))
      }.toMap
    }.getOrElse(Map.empty)
    val fheapBlockBytes: Map[Long, Array[Byte]] =
      fplan.filter(_ => denseHeapFiltered).map { fp =>
        fp.dblocks.map { case (off, size, objIdxs) =>
          off -> deflate(fheapBlockImage(fp, off, size, objIdxs), 6)
        }.toMap
      }.getOrElse(Map.empty)
    val fheapDblockAddr: Map[Long, Long] = fplan.map { fp =>
      fp.dblocks.map { case (off, size, _) =>
        off -> alloc(
          if (denseHeapFiltered) fheapBlockBytes(off).length.toLong else size)
      }.toMap
    }.getOrElse(Map.empty)
    val bthdAddr = if (denseRoot) alloc(38L) else Hdf5.Undefined
    val btNodeAddrs: Seq[Long] =
      if (denseRoot) linkTree.nodeSizes.map(alloc) else Seq.empty

    // dense ATTRIBUTE storage for the root group's global attributes:
    // version-1 attribute-message bodies as fractal-heap managed
    // objects + a type-8 name v2 B-tree — the "latest"-format layout
    // once an object outgrows the compact attribute limit
    val storeAttrsDense = denseAttrs && gatts.nonEmpty
    def attrBodySize(k: String, v: String): Int =
      8 + pad8(k.length + 1) + 8 + 8 + (v.length + 1)
    val attrNames = gatts.map(_._1)
    val attrObjOffset: Map[String, Long] = {
      var off = 17L // FHDB header: sig(4) + ver(1) + heap addr(8) + off(4)
      gatts.map { case (k, v) =>
        val o = off; off += attrBodySize(k, v); k -> o
      }.toMap
    }
    val attrDblockSize: Long =
      if (!storeAttrsDense) 0L
      else {
        val need = 17L + gatts.map { case (k, v) => attrBodySize(k, v).toLong }.sum
        var s = 512L
        while (s < need) s <<= 1
        require(s <= 65536L, s"dense attrs need $need bytes (> max direct block)")
        s
      }
    val attrTree = V2TreePlan(denseNodeSize, 17, gatts.size)
    val attrFrhpAddr = if (storeAttrsDense) alloc(146L) else Hdf5.Undefined
    val attrDblockAddr =
      if (storeAttrsDense) alloc(attrDblockSize) else Hdf5.Undefined
    val attrBthdAddr = if (storeAttrsDense) alloc(38L) else Hdf5.Undefined
    val attrNodeAddrs: Seq[Long] =
      if (storeAttrsDense) attrTree.nodeSizes.map(alloc) else Seq.empty

    val rootOhSize = 16 + (if (denseRoot) msg(18) else msg(16)) +
      (if (storeAttrsDense) msg(18)
       else gatts.map { case (k, v) =>
         attrMsgSize(k.length, 8, 8, v.length + 1) }.sum)
    val rootOhAddr = alloc(rootOhSize.toLong)
    val eof = cursor

    // ---- render
    val out = new W(mkSink(eof))
    def seek(a: Long): W = out.seekTo(a)

    // superblock v0
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
    out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
    out.put(0.toByte) // shared-header version
    out.put(8.toByte); out.put(8.toByte) // sizeof offsets / lengths
    out.put(0.toByte)
    out.putShort(4); out.putShort(16) // group leaf K / internal K
    out.putInt(0) // consistency flags
    out.putLong(0L); out.putLong(-1L); out.putLong(eof); out.putLong(-1L)
    // root symbol-table entry (cache type 0 — readers consult the OH)
    out.putLong(0L); out.putLong(rootOhAddr); out.putInt(0); out.putInt(0)
    out.putLong(0L); out.putLong(0L) // scratch

    // chunk payloads
    plans.foreach { p =>
      if (p.isScale) {
        val b = seek(dataAddr(p.name))
        p.data.foreach(b.putDouble)
      } else {
        chunked(p.name).list.zip(chunkAddrs(p.name)).foreach {
          case ((_, bytes), a) => seek(a).put(bytes)
        }
      }
    }

    // chunk indexes: v1 B-tree (single leaf, entries in row-major origin
    // order) in the default rendering; Fixed Array (FAHD + FADB,
    // filtered client — address/size/mask entries) in the v4 rendering
    if (!v4Layout) payloads.foreach { p =>
      val c = chunked(p.name)
      val b = seek(btreeAddr(p.name))
      b.put("TREE".getBytes(StandardCharsets.US_ASCII))
      b.put(1.toByte); b.put(0.toByte) // node type 1, level 0
      b.putShort(c.list.size.toShort)
      b.putLong(-1L); b.putLong(-1L)
      c.list.zip(chunkAddrs(p.name)).foreach { case ((origin, bytes), a) =>
        b.putInt(bytes.length); b.putInt(0)
        origin.foreach(b.putLong); b.putLong(0L)
        b.putLong(a)
      }
      // final (upper-bound) key: one past the last chunk
      val last = c.list.last._1
      b.putInt(0); b.putInt(0)
      last.indices.foreach(i => b.putLong(last(i) + c.cdims(i)))
      b.putLong(8L)
    } else if (v4Index == 4) payloads.foreach { p =>
      // Extensible Array: EAHD header, EAIB index block (inline
      // elements + inlined data-block addrs + super-block addrs), then
      // EASB/EADB blocks per the doubling geometry; real checksums
      val c = chunked(p.name)
      val n = c.list.size
      val ea = EaPlan(n, eaPageBits)
      val hdrA = eaHdrAddr(p.name)
      def entry(bb: ByteBuffer, i: Long): Unit =
        if (i < n) {
          bb.putLong(chunkAddrs(p.name)(i.toInt))
          bb.putInt(c.list(i.toInt)._2.length); bb.putInt(0)
        } else { bb.putLong(-1L); bb.putInt(0); bb.putInt(0) }
      def sealed_(bb: ByteBuffer): Array[Byte] = {
        bb.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
          bb.array(), 0, bb.capacity() - 4)))
        bb.array()
      }
      val hb = ByteBuffer.allocate(72).order(ByteOrder.LITTLE_ENDIAN)
      hb.put("EAHD".getBytes(StandardCharsets.US_ASCII))
      hb.put(0.toByte); hb.put(1.toByte) // version, client 1 (filtered)
      hb.put(EaElemSize.toByte); hb.put(EaMaxBits.toByte)
      hb.put(EaIdxElmts.toByte); hb.put(EaMinElmts.toByte)
      hb.put(EaMinPtrs.toByte); hb.put(ea.pageBits.toByte)
      hb.putLong(ea.sblksNeeded.size.toLong)            // super blocks
      hb.putLong(ea.sblksNeeded.map(ea.sblkSize).sum)   // their bytes
      hb.putLong(ea.dblks.size.toLong)                  // data blocks
      hb.putLong(ea.dblks.map { case (_, _, _, ne, np) =>
        ea.dblkSize(ne, np) }.sum)                      // their bytes
      hb.putLong(math.max(0L, n.toLong - 1L))           // max index set
      hb.putLong(n.toLong)                              // elements realized
      hb.putLong(eaIbAddr(p.name))
      seek(hdrA); out.put(sealed_(hb))
      val ib = ByteBuffer.allocate(ea.iblockSize.toInt)
        .order(ByteOrder.LITTLE_ENDIAN)
      ib.put("EAIB".getBytes(StandardCharsets.US_ASCII))
      ib.put(0.toByte); ib.put(1.toByte)
      ib.putLong(hdrA)
      (0 until EaIdxElmts).foreach(i => entry(ib, i.toLong))
      (0 until ea.sblkFirstIdx).foreach { u =>
        (0 until ea.ndblks(u).toInt).foreach { d =>
          ib.putLong(eaDblkAddr.getOrElse((p.name, u, d), -1L))
        }
      }
      (ea.sblkFirstIdx until ea.nsblks).foreach { u =>
        ib.putLong(eaSblkAddr.getOrElse(p.name -> u, -1L))
      }
      seek(eaIbAddr(p.name)); out.put(sealed_(ib))
      ea.sblksNeeded.foreach { u =>
        val np = if (ea.dblkNelmts(u) > ea.pageNelmts)
          (ea.dblkNelmts(u) / ea.pageNelmts).toInt else 0
        val bmLen =
          if (np > 0) ((ea.ndblks(u) * np + 7) / 8).toInt else 0
        val sb = ByteBuffer.allocate(ea.sblkSize(u).toInt)
          .order(ByteOrder.LITTLE_ENDIAN)
        sb.put("EASB".getBytes(StandardCharsets.US_ASCII))
        sb.put(0.toByte); sb.put(1.toByte)
        sb.putLong(hdrA)
        sb.putInt((EaIdxElmts + ea.startIdx(u)).toInt) // block offset
        if (np > 0) {
          // page-init bitmap: every page of every EXISTING data block
          val bits = new Array[Byte](bmLen)
          (0 until ea.ndblks(u).toInt).foreach { d =>
            if (eaDblkAddr.contains((p.name, u, d)))
              (0 until np).foreach { pg =>
                val bit = d * np + pg
                bits(bit / 8) = (bits(bit / 8) | (1 << (bit % 8))).toByte
              }
          }
          sb.put(bits)
        }
        (0 until ea.ndblks(u).toInt).foreach { d =>
          sb.putLong(eaDblkAddr.getOrElse((p.name, u, d), -1L))
        }
        seek(eaSblkAddr(p.name -> u)); out.put(sealed_(sb))
      }
      ea.dblks.foreach { case (u, d, from, ne, np) =>
        val a = eaDblkAddr((p.name, u, d))
        if (np == 0) {
          val db = ByteBuffer.allocate(ea.dblkSize(ne, 0).toInt)
            .order(ByteOrder.LITTLE_ENDIAN)
          db.put("EADB".getBytes(StandardCharsets.US_ASCII))
          db.put(0.toByte); db.put(1.toByte)
          db.putLong(hdrA)
          db.putInt(from.toInt) // block offset (absolute element index)
          (0L until ne).foreach(i => entry(db, from + i))
          seek(a); out.put(sealed_(db))
        } else {
          // paged: prefix closes with its checksum, element pages
          // follow contiguously, each with a trailing checksum
          val db = ByteBuffer.allocate(22).order(ByteOrder.LITTLE_ENDIAN)
          db.put("EADB".getBytes(StandardCharsets.US_ASCII))
          db.put(0.toByte); db.put(1.toByte)
          db.putLong(hdrA)
          db.putInt(from.toInt)
          seek(a); out.put(sealed_(db))
          var pageAddr = a + 22
          (0 until np).foreach { pg =>
            val ps = (ea.pageNelmts * EaElemSize + 4).toInt
            val pb = ByteBuffer.allocate(ps).order(ByteOrder.LITTLE_ENDIAN)
            (0L until ea.pageNelmts).foreach(i =>
              entry(pb, from + pg * ea.pageNelmts + i))
            seek(pageAddr); out.put(sealed_(pb))
            pageAddr += ps
          }
        }
      }
    } else if (v4Index != 5)
      payloads.filter(p => chunked(p.name).list.size > 1).foreach { p =>
      val c = chunked(p.name)
      val n = c.list.size
      val fh = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      fh.put("FAHD".getBytes(StandardCharsets.US_ASCII))
      fh.put(0.toByte)  // version
      fh.put(1.toByte)  // client 1: filtered chunks
      fh.put(16.toByte) // entry: addr(8) + size(4) + mask(4)
      fh.put(v4PageBits.toByte)
      fh.putLong(n.toLong)
      fh.putLong(faDbAddr(p.name))
      fh.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(fh.array(), 0, 24)))
      seek(faHdrAddr(p.name)); out.put(fh.array())

      val entries = c.list.zip(chunkAddrs(p.name))
      val pageSize = 1 << v4PageBits
      if (n <= pageSize) {
        val dbSize = 14 + n * 16 + 4
        val db = ByteBuffer.allocate(dbSize).order(ByteOrder.LITTLE_ENDIAN)
        db.put("FADB".getBytes(StandardCharsets.US_ASCII))
        db.put(0.toByte); db.put(1.toByte)
        db.putLong(faHdrAddr(p.name))
        entries.foreach { case ((_, bytes), a) =>
          db.putLong(a); db.putInt(bytes.length); db.putInt(0)
        }
        db.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
          db.array(), 0, dbSize - 4)))
        seek(faDbAddr(p.name)); out.put(db.array())
      } else {
        // paged: FADB carries the all-initialized page bitmap, then the
        // element pages follow contiguously, each with a trailing
        // checksum
        val nPages = (n + pageSize - 1) / pageSize
        val bitmapLen = (nPages + 7) / 8
        val dbSize = 14 + bitmapLen + 4
        val db = ByteBuffer.allocate(dbSize).order(ByteOrder.LITTLE_ENDIAN)
        db.put("FADB".getBytes(StandardCharsets.US_ASCII))
        db.put(0.toByte); db.put(1.toByte)
        db.putLong(faHdrAddr(p.name))
        (0 until bitmapLen).foreach { i =>
          var bits = 0
          (0 until 8).foreach(j => if (i * 8 + j < nPages) bits |= 1 << j)
          db.put(bits.toByte)
        }
        db.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
          db.array(), 0, dbSize - 4)))
        seek(faDbAddr(p.name)); out.put(db.array())
        var pageAddr = faDbAddr(p.name) + dbSize
        entries.grouped(pageSize).foreach { page =>
          val ps = page.size * 16 + 4
          val pb = ByteBuffer.allocate(ps).order(ByteOrder.LITTLE_ENDIAN)
          page.foreach { case ((_, bytes), a) =>
            pb.putLong(a); pb.putInt(bytes.length); pb.putInt(0)
          }
          pb.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
            pb.array(), 0, ps - 4)))
          seek(pageAddr); out.put(pb.array())
          pageAddr += ps
        }
      }
    }

    // global heap with one object-reference per (data var, dim)
    val heapIndex = scala.collection.mutable.Map[(String, Int), Int]()
    if (gcolSize > 0) {
      val b = seek(gcolAddr)
      b.put("GCOL".getBytes(StandardCharsets.US_ASCII))
      b.put(1.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putLong(gcolSize.toLong)
      var idx = 1
      payloads.foreach { p =>
        p.varDims.zipWithIndex.foreach { case (d, i) =>
          heapIndex(p.name -> i) = idx
          b.putShort(idx.toShort); b.putShort(1); b.putInt(0)
          b.putLong(8L)
          b.putLong(ohAddr(d))
          idx += 1
        }
      }
      b.putShort(0); b.putShort(0); b.putInt(0); b.putLong(16L) // free space
    }

    // ---- message renderers
    def msgHeader(b: W, t: Int, bodySize: Int): Unit = {
      b.putShort(t.toShort); b.putShort(pad8(bodySize).toShort)
      b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
    }
    def putPadded(b: W, raw: Array[Byte], padded: Int): Unit = {
      b.put(raw); (raw.length until padded).foreach(_ => b.put(0.toByte))
    }
    /** v1 filter pipeline message: either the classic shuffle+deflate
      * pair or ONE registered filter (name stored padded-to-8, its
      * length recorded padded, cd_values then odd-count pad — the
      * libhdf5 encoding).
      */
    def writeFiltersMsg(b: W, elem: Int): Unit = {
      msgHeader(b, 0x000B, filtersBody)
      b.put(1.toByte)
      regEntry match {
        case Some((id, name, cdFor)) =>
          b.put(1.toByte)                     // one filter
          b.put(0.toByte); b.put(0.toByte); b.putInt(0)
          val nm = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val padded = pad8(nm.length + 1)
          val cd = cdFor(elem)
          b.putShort(id.toShort); b.putShort(padded.toShort)
          b.putShort(0); b.putShort(cd.length.toShort)
          putPadded(b, nm, padded)
          cd.foreach(b.putInt)
          if (cd.length % 2 == 1) b.putInt(0)
        case None =>
          b.put((if (shuffle) 2 else 1).toByte)
          b.put(0.toByte); b.put(0.toByte); b.putInt(0)
          if (shuffle) {
            b.putShort(2); b.putShort(0); b.putShort(0); b.putShort(1)
            b.putInt(elem); b.putInt(0)     // elem size + odd-count pad
          }
          b.putShort(1); b.putShort(0); b.putShort(0); b.putShort(1)
          b.putInt(deflateLevel); b.putInt(0)
      }
    }
    def writeDataspace(b: W, shape: Seq[Int],
                       unlim: Seq[Boolean]): Unit = {
      val hasMax = unlim.exists(identity)
      val body = 8 + shape.length * 8 + (if (hasMax) shape.length * 8 else 0)
      msgHeader(b, 0x0001, body)
      b.put(1.toByte); b.put(shape.length.toByte)
      b.put((if (hasMax) 1 else 0).toByte) // flags bit 0: maxdims present
      b.put(0.toByte); b.putInt(0)
      shape.foreach(d => b.putLong(d.toLong))
      if (hasMax) shape.zip(unlim).foreach { case (d, u) =>
        b.putLong(if (u) -1L else d.toLong) // −1 = UNLIMITED
      }
    }
    /** IEEE float datatype message: float64, or binary16 when elem = 2.
      * With `sharedDatatype`, float64 becomes a SHARED record (message
      * flags bit 1; body = version 3, type 2, committed-type address) —
      * the committed-datatype shape third-party writers produce.
      */
    def writeFloatType(b: W, elem: Int): Unit = {
      if (sharedDatatype && elem == 8) {
        b.putShort(0x0003); b.putShort(pad8(10).toShort)
        b.put(0x02.toByte) // flags: shared
        b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
        b.put(3.toByte); b.put(2.toByte) // record v3, type 2 (in an OH)
        b.putLong(namedTypeAddr)
        (0 until pad8(10) - 10).foreach(_ => b.put(0.toByte))
        return
      }
      writeFloatTypeInline(b, elem)
    }
    /** ENUM datatype message: version-1 enum of int8 with the fixed
      * [[EnumMembers]] vocabulary — base type inline, then padded
      * null-terminated names, then base-width values (the shape h5py
      * emits for `h5py.enum_dtype({...}, basetype='i1')`).
      */
    def writeEnumType(b: W): Unit = {
      val body = enumTypeBody
      msgHeader(b, 0x0003, body)
      val mark = b.position()
      b.put(0x18.toByte)                     // version 1, class 8 (enum)
      b.put(EnumMembers.size.toByte)         // bits 0-15: member count
      b.put(0.toByte); b.put(0.toByte)
      b.putInt(1)                            // size = base size
      // base: fixed-point int8, little-endian, signed
      b.put(0x10.toByte)
      b.put(0x08.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(1)
      b.putShort(0); b.putShort(8)           // bit offset, precision
      EnumMembers.foreach { case (n, _) =>
        // padding bytes are NUL, so the terminator comes from the pad
        putPadded(b, n.getBytes(StandardCharsets.US_ASCII),
          pad8(n.length + 1))
      }
      EnumMembers.foreach { case (_, v) => b.put(v.toByte) }
      (b.position() until mark + pad8(body)).foreach(_ => b.put(0.toByte))
    }
    def writeFloatTypeInline(b: W, elem: Int): Unit = {
      msgHeader(b, 0x0003, 20)
      b.put(0x11.toByte) // version 1, class 1 (float)
      // LE, MSB-implied mantissa norm, sign at the top bit
      b.put(0x20.toByte)
      b.put((if (elem == 8) 0x3F else 0x0F).toByte)
      b.put(0.toByte)
      b.putInt(elem)
      b.putShort(0); b.putShort((elem * 8).toShort)
      if (elem == 8) {
        b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
        b.putInt(1023)
      } else {
        b.put(10.toByte); b.put(5.toByte); b.put(0.toByte); b.put(10.toByte)
        b.putInt(15)
      }
      (0 until pad8(20) - 20).foreach(_ => b.put(0.toByte))
    }
    def writeFill(b: W): Unit = {
      msgHeader(b, 0x0005, 2)
      b.put(3.toByte); b.put(0x16.toByte) // v3: late alloc, never write, undefined
      (0 until 6).foreach(_ => b.put(0.toByte))
    }
    def writeTextAttr(b: W, name: String, value: String): Unit = {
      val dataSize = value.length + 1
      val body = 8 + pad8(name.length + 1) + pad8(8) + pad8(8) + dataSize
      msgHeader(b, 0x000C, body)
      val mark = b.position()
      b.put(1.toByte); b.put(0.toByte)
      b.putShort((name.length + 1).toShort)
      b.putShort(8); b.putShort(8)
      putPadded(b, (name + "\u0000").getBytes(StandardCharsets.UTF_8),
        pad8(name.length + 1))
      // datatype: fixed string, null-terminated
      b.put(0x13.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(dataSize)
      // dataspace: scalar v1
      b.put(1.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(0)
      putPadded(b, (value + "\u0000").getBytes(StandardCharsets.UTF_8), dataSize)
      (b.position() until mark + pad8(body)).foreach(_ => b.put(0.toByte))
    }
    def writeDoubleAttr(b: W, name: String, value: Double): Unit = {
      if (sharedDatatype) {
        // version-2 attribute, flag bit 0: the embedded datatype block
        // is a SHARED record (v3, type 2) pointing at the committed type
        val body = 8 + (name.length + 1) + 10 + 8 + 8
        msgHeader(b, 0x000C, body)
        val mark = b.position()
        b.put(2.toByte); b.put(1.toByte)
        b.putShort((name.length + 1).toShort)
        b.putShort(10); b.putShort(8)
        b.put(name.getBytes(StandardCharsets.UTF_8)); b.put(0.toByte)
        b.put(3.toByte); b.put(2.toByte)
        b.putLong(namedTypeAddr)
        // dataspace: scalar v1
        b.put(1.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
        b.putInt(0)
        b.putDouble(value)
        (b.position() until mark + pad8(body)).foreach(_ => b.put(0.toByte))
        return
      }
      val body = 8 + pad8(name.length + 1) + pad8(20) + pad8(8) + 8
      msgHeader(b, 0x000C, body)
      val mark = b.position()
      b.put(1.toByte); b.put(0.toByte)
      b.putShort((name.length + 1).toShort)
      b.putShort(20); b.putShort(8)
      putPadded(b, name.getBytes(StandardCharsets.UTF_8), pad8(name.length + 1))
      // datatype: IEEE float64 LE (same encoding as the dataset type)
      b.put(0x11.toByte)
      b.put(0x20.toByte); b.put(0x3F.toByte); b.put(0.toByte)
      b.putInt(8)
      b.putShort(0); b.putShort(64)
      b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
      b.putInt(1023)
      (0 until pad8(20) - 20).foreach(_ => b.put(0.toByte))
      // dataspace: scalar v1
      b.put(1.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(0)
      b.putDouble(value)
      (b.position() until mark + pad8(body)).foreach(_ => b.put(0.toByte))
    }
    def writeDimListAttr(b: W, varName: String, varDims: Seq[String]): Unit = {
      val rank = varDims.length
      val body = 8 + pad8("DIMENSION_LIST".length + 1) + 16 + 16 + rank * 16
      msgHeader(b, 0x000C, body)
      val mark = b.position()
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(("DIMENSION_LIST".length + 1).toShort)
      b.putShort(16); b.putShort(16)
      putPadded(b, "DIMENSION_LIST\u0000".getBytes(StandardCharsets.US_ASCII),
        pad8("DIMENSION_LIST".length + 1))
      // datatype: vlen sequence of object references
      b.put(0x19.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(16)
      b.put(0x17.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(8)
      // dataspace: rank-1, extent = number of dimensions
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(0)
      b.putLong(rank.toLong)
      varDims.indices.foreach { i =>
        b.putInt(1)
        b.putLong(gcolAddr)
        b.putInt(heapIndex(varName -> i))
      }
      (b.position() until mark + pad8(body)).foreach(_ => b.put(0.toByte))
    }

    // committed (named) datatype: a v1 object header holding the one
    // inline float64 datatype message every shared record points at
    if (sharedDatatype) {
      val b = seek(namedTypeAddr)
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(1)   // one message
      b.putInt(1)     // reference count (informational in this fixture)
      b.putInt(32)    // header size: msg(20)
      b.putInt(0)     // pad to 8
      writeFloatTypeInline(b, 8)
    }

    // dataset object headers
    plans.foreach { p =>
      val rank = p.shape.length
      val size = ohSize(p)
      val b = seek(ohAddr(p.name))
      // scales: dataspace, datatype, fill, layout, CLASS, NAME + user
      // payloads: dataspace, datatype, fill, layout, filters, DIMENSION_LIST + user
      val nMsgs = 6 + p.attrs.size + p.numAttrs.size
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(nMsgs.toShort)
      b.putInt(1)
      b.putInt(size - 16)
      b.putInt(0) // pad to 8
      writeDataspace(b, p.shape, unlimMask(p))
      if (p.elem == 1) writeEnumType(b) else writeFloatType(b, p.elem)
      writeFill(b)
      if (p.isScale) {
        msgHeader(b, 0x0008, 18)
        b.put(3.toByte); b.put(1.toByte) // v3 contiguous
        b.putLong(dataAddr(p.name)); b.putLong(p.data.length.toLong * 8)
        (0 until pad8(18) - 18).foreach(_ => b.put(0.toByte))
        writeTextAttr(b, "CLASS", "DIMENSION_SCALE")
        writeTextAttr(b, "NAME", p.name)
      } else if (v4Layout) {
        val c = chunked(p.name)
        val single = c.list.size == 1 && v4Index == 3
        val body = v4Index match {
          case 4 => 19 + rank * 4
          case 5 => 20 + rank * 4
          case _ => (if (single) 26 else 15) + rank * 4
        }
        msgHeader(b, 0x0008, body)
        b.put(4.toByte); b.put(2.toByte) // v4 chunked
        b.put((if (single) 2 else 0).toByte) // flags: bit1 = filtered single
        b.put(rank.toByte)
        b.put(4.toByte)                  // dim size encoded length
        c.cdims.foreach(d => b.putInt(d))
        if (v4Index == 4) {
          b.put(4.toByte)                // index type 4: Extensible Array
          // creation params, layout-message order: max bits, index
          // elements, min pointers, min elements, page bits
          b.put(EaMaxBits.toByte); b.put(EaIdxElmts.toByte)
          b.put(EaMinPtrs.toByte); b.put(EaMinElmts.toByte)
          b.put(eaPageBits.toByte)
          b.putLong(eaHdrAddr(p.name))
        } else if (v4Index == 5) {
          b.put(5.toByte)                // index type 5: v2 B-tree
          b.putInt(denseNodeSize)
          b.put(100.toByte); b.put(40.toByte) // split / merge percent
          b.putLong(bt2HdrAddr(p.name))
        } else if (single) {
          b.put(1.toByte)                // index type 1: Single Chunk
          b.putLong(c.list.head._2.length.toLong) // filtered size
          b.putInt(0)                    // filter mask
          b.putLong(chunkAddrs(p.name).head)
        } else {
          b.put(3.toByte)                // index type 3: Fixed Array
          b.put(v4PageBits.toByte)
          b.putLong(faHdrAddr(p.name))
        }
        (0 until pad8(body) - body).foreach(_ => b.put(0.toByte))
        writeFiltersMsg(b, p.elem)
        writeDimListAttr(b, p.name, p.varDims)
      } else {
        val c = chunked(p.name)
        val body = 3 + 8 + (rank + 1) * 4
        msgHeader(b, 0x0008, body)
        b.put(3.toByte); b.put(2.toByte) // v3 chunked
        b.put((rank + 1).toByte)
        b.putLong(btreeAddr(p.name))
        c.cdims.foreach(d => b.putInt(d))
        b.putInt(p.elem) // element size pseudo-dim
        (0 until pad8(body) - body).foreach(_ => b.put(0.toByte))
        writeFiltersMsg(b, p.elem)
        writeDimListAttr(b, p.name, p.varDims)
      }
      p.attrs.foreach { case (k, v) => writeTextAttr(b, k, v) }
      p.numAttrs.foreach { case (k, v) => writeDoubleAttr(b, k, v) }
    }

    /** Render a v2 B-tree (header + nodes at any depth) from
      * pre-serialized records SORTED by the tree's key. `nodeAddrs`
      * aligns with `plan.nodesPre`; records distribute in the standard
      * in-order layout, children rendered depth-first so each internal
      * node knows its child addresses and subtree totals.
      */
    def writeV2Btree(bthd: Long, plan: V2TreePlan, btype: Int,
                     nodeAddrs: Seq[Long],
                     recs: Seq[Array[Byte]]): Unit = {
      require(recs.size == plan.n, s"${recs.size} records for plan of ${plan.n}")
      val geo = plan.geo
      val bh = ByteBuffer.allocate(38).order(ByteOrder.LITTLE_ENDIAN)
      bh.put("BTHD".getBytes(StandardCharsets.US_ASCII))
      bh.put(0.toByte); bh.put(btype.toByte)
      bh.putInt(plan.nodeSize)
      bh.putShort(plan.recordSize.toShort)
      bh.putShort(plan.depth.toShort)
      bh.put(100.toByte); bh.put(40.toByte) // split / merge percent
      bh.putLong(nodeAddrs.head) // preorder: root first
      bh.putShort(plan.root.nrec.toShort)
      bh.putLong(plan.n.toLong)
      bh.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(bh.array(), 0, 34)))
      seek(bthd); out.put(bh.array())
      var idx = 0     // next record (in-order)
      var nodeIdx = 0 // preorder address cursor
      def putVar(bb: ByteBuffer, v: Long, width: Int): Unit =
        (0 until width).foreach(j => bb.put(((v >> (8 * j)) & 0xFF).toByte))
      /** renders the subtree, returns (addr, nrec, subtree total) */
      def render(nd: plan.PNode): (Long, Int, Long) = {
        val addr = nodeAddrs(nodeIdx); nodeIdx += 1
        if (nd.d == 0) {
          val ls = (10 + nd.nrec * plan.recordSize)
          val bl = ByteBuffer.allocate(ls).order(ByteOrder.LITTLE_ENDIAN)
          bl.put("BTLF".getBytes(StandardCharsets.US_ASCII))
          bl.put(0.toByte); bl.put(btype.toByte)
          recs.slice(idx, idx + nd.nrec).foreach(bl.put)
          idx += nd.nrec
          bl.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
            bl.array(), 0, ls - 4)))
          seek(addr); out.put(bl.array())
          (addr, nd.nrec, nd.nrec.toLong)
        } else {
          val kids = Seq.newBuilder[(Long, Int, Long)]
          val seps = Seq.newBuilder[Array[Byte]]
          nd.children.zipWithIndex.foreach { case (c, i) =>
            kids += render(c)
            if (i < nd.children.size - 1) { seps += recs(idx); idx += 1 }
          }
          val isz = geo.nodeBytes(nd.d, nd.nrec).toInt
          val bi = ByteBuffer.allocate(isz).order(ByteOrder.LITTLE_ENDIAN)
          bi.put("BTIN".getBytes(StandardCharsets.US_ASCII))
          bi.put(0.toByte); bi.put(btype.toByte)
          seps.result().foreach(bi.put)
          val ks = kids.result()
          ks.foreach { case (a, c, tot) =>
            bi.putLong(a)
            putVar(bi, c.toLong, geo.maxNrecSize)
            if (nd.d > 1) putVar(bi, tot, geo.cumNrecSize(nd.d - 1))
          }
          bi.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
            bi.array(), 0, isz - 4)))
          seek(addr); out.put(bi.array())
          (addr, nd.nrec, ks.map(_._3).sum + nd.nrec)
        }
      }
      render(plan.root)
    }

    if (v4Layout && v4Index == 5) payloads.foreach { p =>
      // v2 B-tree chunk index: type-11 records (addr + stored size +
      // filter mask + scaled offsets), sorted by scaled coordinates —
      // the row-major chunk enumeration already is
      val c = chunked(p.name)
      val rank = p.shape.length
      val recs = c.list.zip(chunkAddrs(p.name)).map {
        case ((origin, bytes), a) =>
          val r = ByteBuffer.allocate(16 + 8 * rank)
            .order(ByteOrder.LITTLE_ENDIAN)
          r.putLong(a); r.putInt(bytes.length); r.putInt(0)
          origin.zipWithIndex.foreach { case (o, i) =>
            r.putLong(o / c.cdims(i))
          }
          r.array()
      }
      writeV2Btree(bt2HdrAddr(p.name), bt2Plans(p.name), 11,
        bt2NodeAddrs(p.name), recs)
    }

    if (denseRoot && !advancedHeap) {
      // fractal heap header (checksummed; built in memory, then written)
      val fr = ByteBuffer.allocate(146).order(ByteOrder.LITTLE_ENDIAN)
      fr.put("FRHP".getBytes(StandardCharsets.US_ASCII))
      fr.put(0.toByte) // version
      fr.putShort(7)   // heap ID length: 1 + 4 (offset) + 2 (length)
      fr.putShort(0)   // I/O filters encoded length
      fr.put(0.toByte) // flags: direct blocks not checksummed
      fr.putInt(4096)  // max managed object size
      fr.putLong(0L)         // next huge id
      fr.putLong(-1L)        // huge-object B-tree
      fr.putLong(0L)         // free space
      fr.putLong(-1L)        // free-space manager
      fr.putLong(denseDblockSize)       // managed space
      fr.putLong(denseDblockSize)       // allocated managed space
      fr.putLong(denseObjOffset(sortedNames.last) +
        denseLinkSize(sortedNames.last)) // managed iterator offset
      fr.putLong(plans.size.toLong)     // managed object count
      fr.putLong(0L); fr.putLong(0L)    // huge size / count
      fr.putLong(0L); fr.putLong(0L)    // tiny size / count
      fr.putShort(4)                    // table width
      fr.putLong(denseDblockSize)       // starting block size
      fr.putLong(65536L)                // max direct block size
      fr.putShort(32)                   // max heap size (bits) → 4-byte offsets
      fr.putShort(4)                    // starting rows in root indirect
      fr.putLong(denseDblockAddr)       // root block (a DIRECT block:
      fr.putShort(0)                    //   current rows = 0)
      fr.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(fr.array(), 0, 142)))
      seek(frhpAddr); out.put(fr.array())

      // the one direct block: header + link messages back-to-back
      val db = ByteBuffer.allocate(denseDblockSize.toInt)
        .order(ByteOrder.LITTLE_ENDIAN)
      db.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      db.put(0.toByte)
      db.putLong(frhpAddr)
      db.putInt(0) // heap offset of this block (4-byte heap space)
      sortedNames.foreach(n => db.put(linkMsgBytes(n)))
      seek(denseDblockAddr); out.put(db.array())
    }

    if (denseRoot && advancedHeap) {
      // generalized heap: FRHP (with filter pipeline when filtered) →
      // root indirect (or direct) → child indirect recursion → direct
      // blocks, deflated when filtered
      val fp = fplan.get
      val frSize =
        (if (denseHeapFiltered) 146 + 12 + heapFilterInfoLen else 146)
      val fr = ByteBuffer.allocate(frSize).order(ByteOrder.LITTLE_ENDIAN)
      fr.put("FRHP".getBytes(StandardCharsets.US_ASCII))
      fr.put(0.toByte)
      fr.putShort(7)
      fr.putShort(
        (if (denseHeapFiltered) heapFilterInfoLen else 0).toShort)
      fr.put(0.toByte)
      fr.putInt(4096)
      fr.putLong(0L); fr.putLong(-1L); fr.putLong(0L); fr.putLong(-1L)
      fr.putLong(fp.lastEnd)            // managed space
      fr.putLong(fp.lastEnd)            // allocated managed space
      fr.putLong(denseObjOffset(sortedNames.last) +
        denseLinkSize(sortedNames.last))
      fr.putLong(plans.size.toLong)
      fr.putLong(0L); fr.putLong(0L); fr.putLong(0L); fr.putLong(0L)
      fr.putShort(fp.width.toShort)
      fr.putLong(fp.start)
      fr.putLong(fp.maxDirect)
      fr.putShort(32)
      fr.putShort(4)
      fr.putLong(
        if (fp.singleBlock) fheapDblockAddr(0L) else fheapInodeAddr(0L))
      fr.putShort(fp.rootRows.toShort)
      if (denseHeapFiltered) {
        fr.putLong(if (fp.singleBlock) fheapBlockBytes(0L).length.toLong
                   else 0L)             // filtered root direct size
        fr.putInt(0)                    // I/O filter mask
        // filter pipeline message v1: one deflate filter, level 6
        fr.put(1.toByte); fr.put(1.toByte)
        fr.put(0.toByte); fr.put(0.toByte); fr.putInt(0) // reserved
        fr.putShort(1)  // filter id: deflate
        fr.putShort(0)  // name length
        fr.putShort(0)  // flags
        fr.putShort(1)  // client values
        fr.putInt(6)    // level
        fr.putInt(0)    // pad to even client count
      }
      fr.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
        fr.array(), 0, frSize - 4)))
      seek(frhpAddr); out.put(fr.array())

      fp.inodes.foreach { case (base, nrows) =>
        val isz = fp.iblockSize(nrows, denseHeapFiltered).toInt
        val ib = ByteBuffer.allocate(isz).order(ByteOrder.LITTLE_ENDIAN)
        ib.put("FHIB".getBytes(StandardCharsets.US_ASCII))
        ib.put(0.toByte)
        ib.putLong(frhpAddr)
        ib.putInt(base.toInt) // this block's heap offset (4-byte space)
        fp.slots(base, nrows).foreach {
          case Left(doff) =>
            ib.putLong(fheapDblockAddr.getOrElse(doff, -1L))
            if (denseHeapFiltered) {
              ib.putLong(fheapBlockBytes.get(doff)
                .map(_.length.toLong).getOrElse(0L))
              ib.putInt(0)
            }
          case Right(coff) =>
            ib.putLong(fheapInodeAddr.getOrElse(coff, -1L))
        }
        ib.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(
          ib.array(), 0, isz - 4)))
        seek(fheapInodeAddr(base)); out.put(ib.array())
      }

      fp.dblocks.foreach { case (off, size, objIdxs) =>
        val bytes =
          if (denseHeapFiltered) fheapBlockBytes(off)
          else fheapBlockImage(fp, off, size, objIdxs)
        seek(fheapDblockAddr(off)); out.put(bytes)
      }
    }

    if (denseRoot) {
      // name-index v2 B-tree: type-5 records (hash + heap ID) sorted by
      // hash, split across leaves + internal nodes when the group
      // outgrows one leaf
      val recBytes = sortedNames.map { n =>
        (Lookup3.hash(n.getBytes(StandardCharsets.US_ASCII)), n)
      }.sortBy { case (h, _) => h.toLong & 0xFFFFFFFFL }.map { case (h, n) =>
        val r = ByteBuffer.allocate(11).order(ByteOrder.LITTLE_ENDIAN)
        r.putInt(h)
        r.put(0.toByte) // heap ID: version 0, managed
        r.putInt(denseObjOffset(n).toInt)
        r.putShort(denseLinkSize(n).toShort)
        r.array()
      }
      writeV2Btree(bthdAddr, linkTree, 5, btNodeAddrs, recBytes)
    }

    if (storeAttrsDense) {
      // version-1 attribute-message body, exactly as the compact 0x000C
      // message would carry it — dense storage stores the same bytes as
      // fractal-heap managed objects
      def textAttrBody(name: String, value: String): Array[Byte] = {
        val dataSize = value.length + 1
        val buf = ByteBuffer.allocate(attrBodySize(name, value))
          .order(ByteOrder.LITTLE_ENDIAN)
        buf.put(1.toByte); buf.put(0.toByte)
        buf.putShort((name.length + 1).toShort)
        buf.putShort(8); buf.putShort(8)
        val nm = (name + "\u0000").getBytes(StandardCharsets.UTF_8)
        buf.put(nm)
        (nm.length until pad8(name.length + 1)).foreach(_ => buf.put(0.toByte))
        buf.put(0x13.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
        buf.putInt(dataSize) // fixed string, null-terminated
        buf.put(1.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
        buf.putInt(0) // scalar dataspace v1
        buf.put((value + "\u0000").getBytes(StandardCharsets.UTF_8))
        buf.array()
      }
      val fr = ByteBuffer.allocate(146).order(ByteOrder.LITTLE_ENDIAN)
      fr.put("FRHP".getBytes(StandardCharsets.US_ASCII))
      fr.put(0.toByte)
      fr.putShort(7)   // heap ID: 1 + 4 (offset) + 2 (length)
      fr.putShort(0)
      fr.put(0.toByte)
      fr.putInt(4096)
      fr.putLong(0L); fr.putLong(-1L); fr.putLong(0L); fr.putLong(-1L)
      fr.putLong(attrDblockSize); fr.putLong(attrDblockSize)
      fr.putLong(attrObjOffset(attrNames.last) +
        attrBodySize(attrNames.last, gatts.last._2))
      fr.putLong(gatts.size.toLong)
      fr.putLong(0L); fr.putLong(0L); fr.putLong(0L); fr.putLong(0L)
      fr.putShort(4)
      fr.putLong(attrDblockSize)
      fr.putLong(65536L)
      fr.putShort(32)
      fr.putShort(4)
      fr.putLong(attrDblockAddr)
      fr.putShort(0) // root is a DIRECT block
      fr.putInt(Lookup3.hash(java.util.Arrays.copyOfRange(fr.array(), 0, 142)))
      seek(attrFrhpAddr); out.put(fr.array())

      val db = ByteBuffer.allocate(attrDblockSize.toInt)
        .order(ByteOrder.LITTLE_ENDIAN)
      db.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      db.put(0.toByte)
      db.putLong(attrFrhpAddr)
      db.putInt(0)
      gatts.foreach { case (k, v) => db.put(textAttrBody(k, v)) }
      seek(attrDblockAddr); out.put(db.array())

      // attribute-name v2 B-tree: type-8 records (heap ID + flags +
      // creation order + name hash) sorted by hash, split across
      // leaves + a depth-1 internal node when attrs outgrow one leaf
      val recBytes = gatts.zipWithIndex.map { case ((k, v), i) =>
        (Lookup3.hash(k.getBytes(StandardCharsets.UTF_8)), k, v, i)
      }.sortBy { case (h, _, _, _) => h.toLong & 0xFFFFFFFFL }
        .map { case (h, k, v, i) =>
          val r = ByteBuffer.allocate(17).order(ByteOrder.LITTLE_ENDIAN)
          r.put(0.toByte) // heap ID: version 0, managed
          r.putInt(attrObjOffset(k).toInt)
          r.putShort(attrBodySize(k, v).toShort)
          r.put(0.toByte) // heap ID pad to the record's 8-byte field
          r.put(0.toByte) // message flags
          r.putInt(i)     // creation order
          r.putInt(h)
          r.array()
        }
      writeV2Btree(attrBthdAddr, attrTree, 8, attrNodeAddrs, recBytes)
    }

    // local heap
    if (!denseRoot) {
      val b = seek(heapAddr)
      b.put("HEAP".getBytes(StandardCharsets.US_ASCII))
      b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putLong(heapDataSize)
      b.putLong(1L) // free-list: none
      b.putLong(heapAddr + 32)
      b.putLong(0L) // reserved first 8 bytes of the data segment
      sortedNames.foreach { n =>
        putPadded(b, (n + "\u0000").getBytes(StandardCharsets.UTF_8),
          pad8(n.length + 1))
      }
    }
    // SNOD (entries sorted by link name)
    if (!denseRoot) {
      val b = seek(snodAddr)
      b.put("SNOD".getBytes(StandardCharsets.US_ASCII))
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(plans.size.toShort)
      sortedNames.foreach { n =>
        b.putLong(nameOffsets(n))
        b.putLong(ohAddr(n))
        b.putInt(0); b.putInt(0)
        b.putLong(0L); b.putLong(0L)
      }
    }
    // group B-tree: one leaf pointing at the SNOD
    if (!denseRoot) {
      val b = seek(gBtreeAddr)
      b.put("TREE".getBytes(StandardCharsets.US_ASCII))
      b.put(0.toByte); b.put(0.toByte)
      b.putShort(1)
      b.putLong(-1L); b.putLong(-1L)
      b.putLong(0L) // key 0: before-all sentinel (heap offset 0 = "")
      b.putLong(snodAddr)
      b.putLong(nameOffsets(sortedNames.last))
    }
    // root object header: symbol-table / link-info message + global attrs
    {
      val b = seek(rootOhAddr)
      b.put(1.toByte); b.put(0.toByte)
      b.putShort((1 + (if (storeAttrsDense) 1 else gatts.size)).toShort)
      b.putInt(1)
      b.putInt(rootOhSize - 16)
      b.putInt(0)
      if (denseRoot) {
        // Link Info: links live in the fractal heap + name B-tree
        msgHeader(b, 0x0002, 18)
        b.put(0.toByte); b.put(0.toByte) // version, flags (no creation order)
        b.putLong(frhpAddr)
        b.putLong(bthdAddr)
        (18 until pad8(18)).foreach(_ => b.put(0.toByte))
      } else {
        msgHeader(b, 0x0011, 16)
        b.putLong(gBtreeAddr); b.putLong(heapAddr)
      }
      if (storeAttrsDense) {
        // Attribute Info: attrs live in their own fractal heap + B-tree
        msgHeader(b, 0x0015, 18)
        b.put(0.toByte); b.put(0.toByte) // version, flags (no creation order)
        b.putLong(attrFrhpAddr)
        b.putLong(attrBthdAddr)
        (18 until pad8(18)).foreach(_ => b.put(0.toByte))
      } else gatts.foreach { case (k, v) => writeTextAttr(b, k, v) }
    }

  }

  // ------------------------------------------------------------ helpers

  private def cartesian(axes: Seq[Seq[Long]]): Seq[Seq[Long]] =
    axes.foldLeft(Seq(Seq.empty[Long])) { (acc, ax) =>
      for (pre <- acc; v <- ax) yield pre :+ v
    }

  /** Extract one full-size chunk (zero-padded past the edge) from a
    * row-major array.
    */
  private def sliceChunk(data: Array[Double], dims: Seq[Int],
                         origin: Seq[Long], cdims: Seq[Int]): Array[Double] = {
    val rank = dims.length
    val out = new Array[Double](cdims.product)
    val eff = Array.tabulate(rank)(i =>
      math.max(0, math.min(cdims(i).toLong, dims(i) - origin(i)).toInt))
    if (eff.exists(_ == 0)) return out
    val idx = new Array[Int](rank)
    var done = false
    while (!done) {
      var src = 0L; var dst = 0L
      var i = 0
      while (i < rank - 1) {
        src = src * dims(i) + (origin(i) + idx(i))
        dst = dst * cdims(i) + idx(i)
        i += 1
      }
      val run = eff(rank - 1)
      src = src * dims(rank - 1) + origin(rank - 1)
      dst = dst * cdims(rank - 1)
      System.arraycopy(data, src.toInt, out, dst.toInt, run)
      var d = rank - 2
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) < eff(d)) carry = false else { idx(d) = 0; d -= 1 }
      }
      if (d < 0) done = true
    }
    out
  }

  private def doubleBytes(a: Array[Double]): Array[Byte] = {
    val b = ByteBuffer.allocate(a.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    a.foreach(b.putDouble)
    b.array()
  }

  /** float64, (elem = 2) IEEE binary16, or (elem = 1) int8 enum codes */
  private def floatBytes(a: Array[Double], elem: Int): Array[Byte] =
    if (elem == 8) doubleBytes(a)
    else if (elem == 1) a.map(_.toByte)
    else {
      val b = ByteBuffer.allocate(a.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      a.foreach(v => b.putShort(Half.fromDouble(v)))
      b.array()
    }

  private[source] def shuffleBytes(data: Array[Byte], elem: Int): Array[Byte] =
    ByteShuffle.forward(data, elem)

  private def deflate(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val tmp = new Array[Byte](65536)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }
}
