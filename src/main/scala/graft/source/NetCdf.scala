package graft.source

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Pure-JVM reader/writer for the NetCDF classic binary format — CDF-1,
  * CDF-2 (64-bit offsets) and CDF-5 (64-bit data, the PnetCDF output
  * HPC forecast models produce) — implemented from the public format
  * specifications (magic `CDF\x01`/`\x02`/`\x05`, big-endian, 4-byte
  * aligned; CDF-5 widens counts/lengths/ids to 64-bit and adds the
  * unsigned + 64-bit integer types). No native libs, no extra
  * dependencies — this is what lets the engine scan the reference's
  * primary input (S1, ref generator.py:485) and write per-slice netCDFs
  * (K1, ref generator.py:961-979) inside executor tasks.
  *
  * Supported: dimensions (incl. one record dimension), global and
  * per-variable attributes, fixed and record variables of all classic
  * and CDF-5 numeric types. HDF5-backed netCDF-4 lives in [[Hdf5]].
  */
object NetCdf {

  // classic nc_type codes (+ the CDF-5 additions)
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  final case class Dim(name: String, length: Int) { def isRecord: Boolean = length == 0 }
  final case class Attr(name: String, ncType: Int, text: String, nums: Seq[Double])
  final case class Var(
      name: String, dimIds: Seq[Int], attrs: Seq[Attr], ncType: Int,
      vsize: Long, begin: Long) {
    def attr(n: String): Option[Attr] = attrs.find(_.name == n)
  }
  final case class Header(
      version: Int, numRecs: Int, dims: Seq[Dim], gatts: Seq[Attr],
      vars: Seq[Var]) {
    def shape(v: Var): Seq[Int] =
      v.dimIds.map(i => if (dims(i).isRecord) numRecs else dims(i).length)
    def gatt(n: String): Option[Attr] = gatts.find(_.name == n)
  }

  // ---------------------------------------------------------------- read

  def readHeader(bytes: Array[Byte]): Header = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(b.get() == 'C' && b.get() == 'D' && b.get() == 'F',
      "not a NetCDF classic file (bad magic)")
    val version = b.get().toInt
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version")
    // CDF-5 widens every NON_NEG count/length/id to 64 bits
    def nn(): Long =
      if (version == 5) b.getLong() else b.getInt().toLong & 0xFFFFFFFFL
    val numRecs = nnInt(nn())
    val dims = readTaggedList(b, 0x0A, nn) { _ =>
      Dim(readName(b, nn), nnInt(nn()))
    }
    val gatts = readAttrList(b, nn)
    val vars = readTaggedList(b, 0x0B, nn) { _ =>
      val name = readName(b, nn)
      val ndims = nnInt(nn())
      val dimIds = (0 until ndims).map(_ => nnInt(nn()))
      val atts = readAttrList(b, nn)
      val ncType = b.getInt()
      val vsize = nn()
      val begin = if (version == 1) b.getInt().toLong & 0xFFFFFFFFL else b.getLong()
      Var(name, dimIds, atts, ncType, vsize, begin)
    }
    Header(version, numRecs, dims, gatts, vars)
  }

  /** Full variable read, flattened row-major, numeric types widened to
    * Double (char unsupported here — coordinate/payload vars are numeric).
    */
  def readVariable(bytes: Array[Byte], h: Header, v: Var): Array[Double] = {
    val shape = h.shape(v)
    val n = shape.product
    val out = new Array[Double](n)
    val isRec = v.dimIds.nonEmpty && h.dims(v.dimIds.head).isRecord
    if (!isRec) {
      readSlab(bytes, v.begin, v.ncType, n, out, 0)
    } else {
      val perRec = if (shape.isEmpty) 1 else shape.drop(1).product
      val recSize = recordSize(h)
      (0 until h.numRecs).foreach { r =>
        readSlab(bytes, v.begin + r.toLong * recSize, v.ncType, perRec, out, r * perRec)
      }
    }
    out
  }

  /** Total bytes of one record (sum of record-var vsizes; a single record
    * var is NOT padded per the spec's special case — handled by using its
    * unpadded slab size).
    */
  private def recordSize(h: Header): Long = {
    val recVars = h.vars.filter(v => v.dimIds.nonEmpty && h.dims(v.dimIds.head).isRecord)
    if (recVars.size == 1) {
      val v = recVars.head
      val perRec = v.dimIds.drop(1).map(i => h.dims(i).length).product.toLong
      perRec * sizeOf(v.ncType)
    } else recVars.map(_.vsize).sum
  }

  private def readSlab(bytes: Array[Byte], offset: Long, ncType: Int,
                       n: Int, out: Array[Double], outPos: Int): Unit = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    b.position(offset.toInt)
    var i = 0
    while (i < n) {
      out(outPos + i) = numericValue(b, ncType)
      i += 1
    }
  }

  private def numericValue(b: ByteBuffer, ncType: Int): Double = ncType match {
    case NcByte   => b.get().toDouble
    case NcShort  => b.getShort().toDouble
    case NcInt    => b.getInt().toDouble
    case NcFloat  => b.getFloat().toDouble
    case NcDouble => b.getDouble()
    case NcUByte  => (b.get() & 0xFF).toDouble
    case NcUShort => (b.getShort() & 0xFFFF).toDouble
    case NcUInt   => (b.getInt().toLong & 0xFFFFFFFFL).toDouble
    case NcInt64  => b.getLong().toDouble
    case NcUInt64 =>
      val v = b.getLong()
      if (v >= 0) v.toDouble
      else (v & Long.MaxValue).toDouble + 9.223372036854775808e18
    case t => throw new IllegalArgumentException(s"numeric read of nc_type $t")
  }

  /** Narrow a NON_NEG count to Int, rejecting (not silently wrapping)
    * CDF-5 headers whose 64-bit counts exceed the supported in-memory
    * range — oversized counts are the case CDF-5 exists for, so they
    * must fail loudly.
    */
  private def nnInt(v: Long): Int = {
    require(v >= 0 && v <= Int.MaxValue,
      s"CDF header count $v exceeds supported Int range")
    v.toInt
  }

  private def readTaggedList[T](b: ByteBuffer, expectTag: Int,
                                nn: () => Long)(f: Int => T): Seq[T] = {
    val tag = b.getInt()
    val n = nnInt(nn())
    require(tag == expectTag || (tag == 0 && n == 0),
      s"bad list tag $tag (expected $expectTag)")
    (0 until n).map(f)
  }

  private def readAttrList(b: ByteBuffer, nn: () => Long): Seq[Attr] =
    readTaggedList(b, 0x0C, nn) { _ =>
      val name = readName(b, nn)
      val t = b.getInt()
      val n = nnInt(nn())
      if (t == NcChar) {
        val raw = new Array[Byte](n)
        b.get(raw); skipPad(b, n)
        Attr(name, t, new String(raw, StandardCharsets.UTF_8), Nil)
      } else {
        val vals = (0 until n).map(_ => numericValue(b, t))
        skipPad(b, n * sizeOf(t))
        Attr(name, t, null, vals)
      }
    }

  private def readName(b: ByteBuffer, nn: () => Long): String = {
    val n = nnInt(nn())
    val raw = new Array[Byte](n)
    b.get(raw); skipPad(b, n)
    new String(raw, StandardCharsets.UTF_8)
  }

  private def sizeOf(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte => 1; case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
  }

  private def skipPad(b: ByteBuffer, consumed: Int): Unit = {
    val pad = (4 - consumed % 4) % 4
    b.position(b.position() + pad)
  }

  // --------------------------------------------------------------- write

  /** Spec for one variable to write: named dims (must all be fixed) +
    * text/numeric attributes + double payload in row-major order.
    * Numeric attrs carry the CF packing/masking vocabulary
    * (_FillValue, missing_value, scale_factor, add_offset) that real
    * forecast files use.
    */
  final case class VarSpec(name: String, dims: Seq[String],
                           attrs: Seq[(String, String)], data: Array[Double],
                           numAttrs: Seq[(String, Double)] = Seq.empty)

  /** Write a classic file with fixed dimensions only (the per-slice
    * output shape of K1: one forecast-init slice, no unlimited dim),
    * double variables, char attributes. Deterministic byte layout.
    *
    * `version` selects the envelope: 1 (CDF-1, the h5netcdf-compatible
    * default — 32-bit offsets cap the file at 2 GiB), 2 (CDF-2, 64-bit
    * `begin` offsets), or 5 (CDF-5: every NON_NEG count, dimension id,
    * vsize and offset widens to 64 bits — the PnetCDF large-variable
    * form a 100 TB archive's slice files actually need). CDF-1 output
    * REJECTS layouts whose data would land past the 32-bit offset
    * horizon instead of silently wrapping.
    */
  def write(dims: Seq[(String, Int)], gatts: Seq[(String, String)],
            vars: Seq[VarSpec], version: Int = 1): Array[Byte] = {
    require(version == 1 || version == 2 || version == 5,
      s"CDF version $version unsupported (1/2/5)")
    val dimIndex = dims.map(_._1).zipWithIndex.toMap
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    // NON_NEG width and begin-offset width per version
    val nnBytes = if (version == 5) 8 else 4
    val beginBytes = if (version == 1) 4 else 8
    def writeNN(v: Long): Unit =
      if (version == 5) o.writeLong(v) else o.writeInt(v.toInt)
    def padded(n: Int): Int = n + ((4 - n % 4) % 4)
    def nameSize(n: String): Int = nnBytes + padded(n.length)
    def writeName(n: String): Unit = {
      writeNN(n.length)
      o.writeBytes(n)
      (0 until (4 - n.length % 4) % 4).foreach(_ => o.writeByte(0))
    }
    def attrsSize(attrs: Seq[(String, String)],
                  numAttrs: Seq[(String, Double)]): Int =
      4 + nnBytes +
        attrs.map { case (k, txt) =>
          nameSize(k) + 4 + nnBytes + padded(txt.length)
        }.sum +
        numAttrs.map { case (k, _) => nameSize(k) + 4 + nnBytes + 8 }.sum
    def writeAttrs(attrs: Seq[(String, String)],
                   numAttrs: Seq[(String, Double)] = Seq.empty): Unit = {
      o.writeInt(0x0C); writeNN(attrs.size + numAttrs.size)
      attrs.foreach { case (k, txt) =>
        writeName(k)
        o.writeInt(NcChar); writeNN(txt.length)
        o.writeBytes(txt)
        (0 until (4 - txt.length % 4) % 4).foreach(_ => o.writeByte(0))
      }
      numAttrs.foreach { case (k, v) =>
        writeName(k)
        o.writeInt(NcDouble); writeNN(1)
        o.writeDouble(v) // 8 bytes, already 4-aligned
      }
    }
    def varMetaSize(v: VarSpec): Int =
      nameSize(v.name) + nnBytes + nnBytes * v.dims.size +
        attrsSize(v.attrs, v.numAttrs) + 4 + nnBytes + beginBytes

    o.writeBytes("CDF"); o.writeByte(version)
    writeNN(0) // numrecs
    // dim list
    o.writeInt(0x0A); writeNN(dims.size)
    dims.foreach { case (n, len) => writeName(n); writeNN(len) }
    writeAttrs(gatts)
    // var list: compute header size first to lay out data offsets
    val headerSize = {
      val base = bos.size()
      base + 4 + nnBytes + vars.map(v => varMetaSize(v)).sum
    }
    var offset = headerSize.toLong
    val begins = vars.map { v =>
      val b = offset
      val bytes = v.data.length.toLong * 8
      offset += bytes + ((4 - bytes % 4) % 4)
      b
    }
    require(version != 1 || offset <= Int.MaxValue.toLong,
      s"CDF-1 data section would end at byte $offset, past the 32-bit " +
        "offset horizon — write version 2 or 5 instead")
    o.writeInt(0x0B); writeNN(vars.size)
    vars.zip(begins).foreach { case (v, begin) =>
      writeName(v.name)
      writeNN(v.dims.size)
      v.dims.foreach(d => writeNN(dimIndex(d)))
      writeAttrs(v.attrs, v.numAttrs)
      o.writeInt(NcDouble)
      val bytes = v.data.length.toLong * 8
      writeNN(bytes + ((4 - bytes % 4) % 4)) // vsize incl pad
      if (version == 1) o.writeInt(begin.toInt) else o.writeLong(begin)
    }
    vars.foreach { v =>
      v.data.foreach(o.writeDouble)
      val pad = ((4 - (v.data.length.toLong * 8) % 4) % 4).toInt
      (0 until pad).foreach(_ => o.writeByte(0))
    }
    o.flush()
    bos.toByteArray
  }
}
