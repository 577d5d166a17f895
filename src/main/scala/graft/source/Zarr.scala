package graft.source

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{Deflater, Inflater}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** S7 — Zarr store reader, formats v2 AND v3 (ref stac/utils.py:119-133
  * reads zarr stores through xarray; here the format itself is decoded).
  *
  * A Zarr v2 store is a directory tree: each array directory holds a
  * `.zarray` JSON (shape, chunk shape, numpy dtype, compressor) and one
  * file per chunk named by its grid coordinates ("1.0.2"). A v3 store
  * (zarr-python's current default) carries a `zarr.json` per node
  * instead, with chunk files under a `c/` prefix nested by the key
  * separator, a codec CHAIN (`bytes` endianness + optional gzip/zstd
  * compression), and `dimension_names` in place of the xarray
  * `_ARRAY_DIMENSIONS` attribute — all normalized here into the same
  * [[ZarrCodec.ArrayMeta]], so every downstream path (manifest, tidy,
  * chunk-parallel read) is format-agnostic. Chunks are ALWAYS full
  * chunk-shape; edge chunks are padded, so the decoder trims each chunk
  * to its in-bounds region.
  *
  * Split of labor mirrors NetCdfSource: array METADATA is driver-read
  * (tiny JSON files — also the only part the reference reads), while
  * chunk PAYLOADS stream through Spark's `binaryFile` source and decode
  * inside the executors — one task per chunk file, so a 100 TB store
  * parallelizes by its chunk grid with no driver involvement.
  *
  * Supported: C and F order (F is the reversed-dims transpose); v2
  * compressors null/zlib/gzip/blosc/zstd/lz4
  * (zarr-python's default blosc-lz4 included, byte- and bit-shuffle,
  * snappy — [[Blosc]]; zstd/lz4 are the bare numcodecs frames, distinct
  * from their blosc and HDF5-filter framings), v3 codecs bytes +
  * gzip/zstd/blosc, `transpose`
  * (any permutation, top-level or inside a shard's inner chain) AND
  * `sharding_indexed` (inner chunk grid + crc32c'd uint64 footer
  * index per shard — each shard fans out one row per INNER chunk, so
  * scan parallelism survives object-count-reducing shard layouts);
  * dtypes {<f8, <f4, <i4, <i2, |i1, |u1, |b1} plus their big-endian
  * forms (v3 names normalized to these). Anything else — vlen types,
  * the blosclz inner codec — fails loudly rather than mis-decoding.
  */
object ZarrCodec {

  /** Sharding (v3 `sharding_indexed` codec): the array's chunk grid is
    * the SHARD grid; each shard file packs an inner chunk grid plus a
    * footer index of (offset, nbytes) uint64 pairs, optionally
    * crc32c-checksummed.
    */
  final case class ShardMeta(inner: Seq[Int], innerComp: String,
                             indexAtEnd: Boolean, indexCrc: Boolean,
                             innerTranspose: Option[Seq[Int]] = None,
                             innerCrc: Boolean = false)

  /** One zarr v2 filter (numcodecs codec applied before the
    * compressor): `delta` carries its dtype, `shuffle` its element
    * size, `fixedscaleoffset` its scale/offset and packed astype,
    * `quantize` is identity on decode (precision was dropped at
    * encode) up to an astype width change. Decoding reverses the list
    * back-to-front after decompression.
    */
  final case class V2Filter(id: String, dtype: String = "",
                            elementSize: Int = 0, astype: String = "",
                            scale: Double = 0.0, offset: Double = 0.0)

  final case class ArrayMeta(store: String, name: String, shape: Seq[Int],
                             chunks: Seq[Int], dtype: String,
                             compressor: String, fillValue: Double,
                             nChunks: Seq[Int], zarrFormat: Int = 2,
                             sep: String = ".",
                             shard: Option[ShardMeta] = None,
                             filters: Seq[V2Filter] = Nil,
                             transpose: Option[Seq[Int]] = None,
                             crc32c: Boolean = false) {
    def nValues: Long = shape.map(_.toLong).product
  }

  /** Dot-joined chunk indices from a chunk file path (any store layout:
    * v2 flat "1.0.2" or NESTED "1/0/2" (dimension_separator "/" — the
    * cloud-store layout); v3 default "c/1/0/2" nested or "c.1.0.2"
    * flat; v3 v2-style keys without the "c" prefix).
    */
  def keyFromPath(meta: ArrayMeta, path: String): String = {
    val parts = path.split('/')
    if (meta.zarrFormat == 2 && meta.sep == "/")
      parts.takeRight(meta.shape.length).mkString(".")
    else if (meta.zarrFormat == 2) parts.last
    else if (meta.sep == "/") parts.takeRight(meta.shape.length).mkString(".")
    else parts.last.stripPrefix("c" + meta.sep).replace(meta.sep, ".")
  }

  private val mapper = new ObjectMapper()

  /** Scalar attributes from a `.zattrs` JSON (xarray convention: array
    * dimension names live in `_ARRAY_DIMENSIONS`; group-level attrs at
    * the store root carry the dataset facts the reference reads, e.g.
    * `geospatial_bounds_crs`). Arrays come back comma-joined, scalars
    * as their text.
    */
  def readAttrs(dir: Path): Map[String, String] = {
    def toMap(node: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      node.properties().asScala.map { e =>
        val v = e.getValue
        val s =
          if (v.isArray) v.elements().asScala.map(_.asText()).mkString(",")
          else v.asText()
        e.getKey -> s
      }.toMap
    val v3 = dir.resolve("zarr.json")
    if (Files.exists(v3)) {
      val node = mapper.readTree(Files.readString(v3))
      val attrs = Option(node.get("attributes")).map(toMap).getOrElse(Map.empty)
      // v3 dimension_names plays the role of xarray's _ARRAY_DIMENSIONS
      val dims = Option(node.get("dimension_names"))
        .map(_.elements().asScala.map(_.asText()).mkString(","))
      attrs ++ dims.map("_ARRAY_DIMENSIONS" -> _)
    } else {
      val f = dir.resolve(".zattrs")
      if (!Files.exists(f)) Map.empty
      else toMap(mapper.readTree(Files.readString(f)))
    }
  }

  /** Driver-side full-array assembly — for small COORDINATE arrays only
    * (the band payloads go through the chunk-parallel executor path).
    */
  def readArray(store: Path, meta: ArrayMeta): Array[Double] = {
    val dir = if (meta.name == "/") store else store.resolve(meta.name)
    val out = new Array[Double](meta.nValues.toInt)
    val outStrides = {
      val s = new Array[Int](meta.shape.length); var acc = 1
      for (d <- meta.shape.indices.reverse) { s(d) = acc; acc *= meta.shape(d) }
      s
    }
    graft.Work.walkAll(dir).iterator
      .filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".") ||
        f.getFileName.toString == "zarr.json").foreach { f =>
        decodeChunks(meta, keyFromPath(meta, dir.relativize(f).toString),
          Files.readAllBytes(f)).foreach { case (origin, shape, values) =>
        val strides = {
          val s = new Array[Int](shape.length); var acc = 1
          for (d <- shape.indices.reverse) { s(d) = acc; acc *= shape(d) }
          s
        }
        var i = 0
        while (i < values.length) {
          var rem = i; var dst = 0; var d = 0
          while (d < shape.length) {
            val c = rem / strides(d); rem %= strides(d)
            dst += (origin(d) + c) * outStrides(d); d += 1
          }
          out(dst) = values(i)
          i += 1
        }
        }
      }
    out
  }

  /** Driver-side metadata walk: every `.zarray` (v2) or array
    * `zarr.json` (v3) under the store root, normalized to one shape.
    */
  def readMeta(store: Path): Seq[ArrayMeta] = {
    require(Files.isDirectory(store), s"not a zarr store: $store")
    if (Files.exists(store.resolve("zarr.json"))) readMetaV3(store)
    else readMetaV2(store)
  }

  private def readMetaV3(store: Path): Seq[ArrayMeta] =
    graft.Work.walkAll(store)
      .filter(_.getFileName.toString == "zarr.json").sortBy(_.toString)
      .flatMap { zj =>
        val node = mapper.readTree(Files.readString(zj))
        if (node.get("node_type").asText() != "array") None
        else {
          val name = store.relativize(zj.getParent).toString match {
            case "" => "/"
            case s => s
          }
          val shape = node.get("shape").elements().asScala.map(_.asInt()).toSeq
          val grid = node.get("chunk_grid")
          require(grid.get("name").asText() == "regular",
            s"unsupported chunk grid '${grid.get("name").asText()}' in $zj")
          val chunks = grid.get("configuration").get("chunk_shape")
            .elements().asScala.map(_.asInt()).toSeq
          val (keyEnc, sep) = Option(node.get("chunk_key_encoding")).map { cke =>
            val nm = cke.get("name").asText()
            require(nm == "default" || nm == "v2",
              s"unsupported chunk key encoding '$nm' in $zj")
            val sp = Option(cke.get("configuration"))
              .flatMap(c => Option(c.get("separator"))).map(_.asText())
              .getOrElse(if (nm == "default") "/" else ".")
            (nm, sp)
          }.getOrElse(("default", "/"))
          require(keyEnc == "v2" || sep == "/" || sep == ".",
            s"unsupported separator '$sep' in $zj")
          val dataTypeTxt = node.get("data_type").asText()
          if (dataTypeTxt == "string") {
            // zarr-python 3 string arrays: variable-length UTF-8 via the
            // v3 `vlen-utf8` array→bytes codec (same buffer layout as
            // numcodecs VLenUTF8), optionally compressed/checksummed.
            // Modeled as the v2 object dtype ("|O" + [vlen-utf8]) so
            // decodeStringChunk/readStringArray apply unchanged.
            val items = node.get("codecs").elements().asScala.toSeq
            require(items.nonEmpty &&
              items.head.get("name").asText() == "vlen-utf8",
              s"zarr v3 string array needs vlen-utf8 first in $zj")
            val restNode = mapper.createArrayNode()
            items.tail.foreach(restNode.add)
            val (_, comp, shard, trans, crc) =
              parseCodecChain(restNode, zj.toString, topLevel = true)
            require(shard.isEmpty && trans.isEmpty,
              s"sharding/transpose over string arrays unsupported in $zj")
            Some(ArrayMeta(store.toString, name, shape, chunks,
              "|O", comp, Double.NaN,
              shape.zip(chunks).map { case (s, c) => (s + c - 1) / c },
              zarrFormat = 3, sep = sep,
              filters = Seq(V2Filter("vlen-utf8")), crc32c = crc))
          } else {
          val (endian, comp, shard, trans, crc) =
            parseCodecChain(node.get("codecs"), zj.toString, topLevel = true)
          val dtype = (if (endian == "big") ">" else "<") +
            (dataTypeTxt match {
              case "float64" => "f8"; case "float32" => "f4"
              case "float16" => "f2"
              case "int64" => "i8"; case "int32" => "i4"
              case "int16" => "i2"; case "int8" => "i1"
              case "uint64" => "u8"; case "uint32" => "u4"
              case "uint16" => "u2"; case "uint8" => "u1"
              case "bool" => "b1"
              case other => throw new IllegalArgumentException(
                s"unsupported zarr v3 data_type '$other' in $zj")
            })
          val fill = Option(node.get("fill_value")).filterNot(_.isNull)
            .map(_.asDouble(Double.NaN)).getOrElse(Double.NaN)
          Some(ArrayMeta(store.toString, name, shape, chunks, dtype, comp,
            fill, shape.zip(chunks).map { case (s, c) => (s + c - 1) / c },
            zarrFormat = 3, sep = sep, shard = shard, transpose = trans,
            crc32c = crc))
          }
        }
      }

  /** One pass over a v3 codec list → (endianness, compressor name,
    * optional shard config, optional transpose order). `sharding_indexed`
    * recurses once for its inner chain; nested sharding is rejected.
    */
  private def parseCodecChain(codecs: com.fasterxml.jackson.databind.JsonNode,
                              ctx: String, topLevel: Boolean)
      : (String, String, Option[ShardMeta], Option[Seq[Int]], Boolean) = {
    var endian = "little"
    var comp = "null"
    var shard: Option[ShardMeta] = None
    var trans: Option[Seq[Int]] = None
    var crc32c = false
    codecs.elements().asScala.foreach { c =>
      val cname = c.get("name").asText()
      // crc32c trails the stream it checksums; a codec AFTER it would
      // mean the checksum covers an intermediate representation we
      // never materialize — reject rather than mis-verify
      require(!crc32c,
        s"codec '$cname' after crc32c unsupported in $ctx " +
          "(crc32c must be the last codec in its chain)")
      cname match {
        case "bytes" => endian = Option(c.get("configuration"))
          .flatMap(cc => Option(cc.get("endian"))).map(_.asText())
          .getOrElse("little")
        case "gzip" => comp = "gzip"
        case "zstd" => comp = "zstd"
        case "blosc" => comp = "blosc" // self-describing header
        case "crc32c" => crc32c = true
        case "transpose" =>
          val order = c.get("configuration").get("order")
            .elements().asScala.map(_.asInt()).toSeq
          require(order.sorted == order.indices.toSeq,
            s"transpose order $order is not a permutation in $ctx")
          trans = Some(order).filter(o => o != o.indices.toSeq)
        case "sharding_indexed" if topLevel =>
          val cfg = c.get("configuration")
          val inner = cfg.get("chunk_shape").elements().asScala
            .map(_.asInt()).toSeq
          val (ie, ic, nested, it, icrc) =
            parseCodecChain(cfg.get("codecs"), ctx, topLevel = false)
          require(nested.isEmpty, s"nested sharding unsupported in $ctx")
          endian = ie
          val atEnd = Option(cfg.get("index_location"))
            .map(_.asText()).getOrElse("end") == "end"
          val crc = Option(cfg.get("index_codecs")).exists(
            _.elements().asScala.exists(_.get("name").asText() == "crc32c"))
          shard = Some(ShardMeta(inner, ic, atEnd, crc, it, innerCrc = icrc))
        case other => throw new IllegalArgumentException(
          s"unsupported zarr v3 codec '$other' in $ctx")
      }
    }
    // a top-level transpose AROUND sharding would permute the SHARD
    // grid itself; decodeShard only applies the inner transpose, so
    // honoring the module's fail-loudly contract beats silently
    // emitting wrongly-ordered values
    require(!(topLevel && shard.isDefined && trans.isDefined),
      s"transpose combined with sharding_indexed unsupported in $ctx")
    (endian, comp, shard, trans, crc32c)
  }

  private def readMetaV2(store: Path): Seq[ArrayMeta] = {
    // consolidated metadata (zarr.consolidate_metadata): every member's
    // .zarray/.zattrs embedded in ONE .zmetadata object — at cloud scale
    // this is one read instead of a LIST + N reads, so prefer it
    val zm = store.resolve(".zmetadata")
    if (Files.exists(zm)) {
      val root = mapper.readTree(Files.readString(zm))
      require(Option(root.get("zarr_consolidated_format"))
        .exists(_.asInt() == 1),
        s"unsupported zarr_consolidated_format in $zm")
      val md = root.get("metadata")
      md.properties().asScala.toSeq
        .filter(e => e.getKey == ".zarray" || e.getKey.endsWith("/.zarray"))
        .sortBy(_.getKey)
        .map { e =>
          val name = e.getKey.stripSuffix(".zarray").stripSuffix("/") match {
            case "" => "/"
            case s2 => s2
          }
          parseV2Array(store, e.getValue, name, s"$zm!${e.getKey}")
        }
    } else
      graft.Work.walkAll(store)
        .filter(_.getFileName.toString == ".zarray").sortBy(_.toString)
        .map { za =>
          val name = store.relativize(za.getParent).toString match {
            case "" => "/"
            case s2 => s2
          }
          parseV2Array(store, mapper.readTree(Files.readString(za)), name,
            za.toString)
        }
  }

  private[source] def parseV2Array(store: Path,
                           node: com.fasterxml.jackson.databind.JsonNode,
                           name: String, za: String): ArrayMeta = {
    {
        val shape = node.get("shape").elements().asScala.map(_.asInt()).toSeq
        val chunks = node.get("chunks").elements().asScala.map(_.asInt()).toSeq
        val comp = Option(node.get("compressor"))
          .filterNot(_.isNull).map(_.get("id").asText()).getOrElse("null")
        require(comp == "null" || comp == "zlib" || comp == "blosc" ||
          comp == "zstd" || comp == "lz4" || comp == "gzip",
          s"unsupported zarr compressor '$comp' in $za " +
            "(null/zlib/gzip/blosc/zstd/lz4)")
        val filters = Option(node.get("filters")).filterNot(_.isNull).toSeq
          .flatMap(_.elements().asScala).map { f =>
            f.get("id").asText() match {
              case "delta" =>
                val dt = f.get("dtype").asText()
                val at = Option(f.get("astype")).filterNot(_.isNull)
                  .map(_.asText()).getOrElse(dt)
                require(at == dt,
                  s"delta astype '$at' != dtype '$dt' unsupported in $za")
                V2Filter("delta", dtype = dt)
              case "shuffle" =>
                V2Filter("shuffle", elementSize =
                  Option(f.get("elementsize")).map(_.asInt()).getOrElse(4))
              case "fixedscaleoffset" =>
                val dt = f.get("dtype").asText()
                V2Filter("fixedscaleoffset", dtype = dt,
                  astype = Option(f.get("astype")).filterNot(_.isNull)
                    .map(_.asText()).getOrElse(dt),
                  scale = f.get("scale").asDouble(),
                  offset = f.get("offset").asDouble())
              case "quantize" =>
                val dt = f.get("dtype").asText()
                V2Filter("quantize", dtype = dt,
                  astype = Option(f.get("astype")).filterNot(_.isNull)
                    .map(_.asText()).getOrElse(dt))
              case "vlen-utf8" =>
                // the object->bytes boundary for string arrays (label
                // axes); decoded through readStringArray, not the
                // numeric path
                V2Filter("vlen-utf8")
              case other => throw new IllegalArgumentException(
                s"unsupported zarr v2 filter '$other' in $za " +
                  "(delta/shuffle/fixedscaleoffset/quantize/vlen-utf8)")
            }
          }
        // F (Fortran) order is the reversed-dims transpose: reuse the
        // v3 transpose machinery with order = reversed indices
        val order = node.get("order").asText()
        require(order == "C" || order == "F",
          s"unsupported order '$order' in $za")
        val trans =
          if (order == "F" && shape.length > 1)
            Some(shape.indices.reverse.toSeq)
          else None
        val sep = Option(node.get("dimension_separator"))
          .filterNot(_.isNull).map(_.asText()).getOrElse(".")
        require(sep == "." || sep == "/",
          s"unsupported dimension_separator '$sep' in $za")
        val fill = Option(node.get("fill_value")).filterNot(_.isNull)
          .map(_.asDouble(Double.NaN)).getOrElse(Double.NaN)
        ArrayMeta(store.toString, name, shape, chunks, node.get("dtype").asText(),
          comp, fill,
          shape.zip(chunks).map { case (s, c) => (s + c - 1) / c },
          sep = sep, filters = filters, transpose = trans)
      }
  }

  /** Reverse one v2 filter at the byte level. `delta` accumulates in
    * the encoded dtype's native arithmetic (integer widths wrap exactly
    * as numcodecs' numpy cumsum does); `shuffle` is the byte transpose.
    */
  private[source] def unfilterV2(f: V2Filter, data: Array[Byte]): Array[Byte] =
    f.id match {
      case "shuffle" => unshuffleBytes(data, f.elementSize)
      case "delta" => unDelta(data, f.dtype)
      case "fixedscaleoffset" =>
        // numcodecs decode: x = enc / scale + offset, enc packed astype
        encodeDtype(f.dtype,
          decodeDtype(f.astype, data).map(v => v / f.scale + f.offset))
      case "quantize" =>
        // precision was dropped at ENCODE; decode only widens astype
        if (f.astype == f.dtype) data
        else encodeDtype(f.dtype, decodeDtype(f.astype, data))
      case other =>
        throw new IllegalArgumentException(s"zarr v2 filter '$other'")
    }

  /** Inverse of [[decodeDtype]] for the filter transforms that change
    * the packed representation (fixedscaleoffset, widening quantize).
    */
  private def encodeDtype(dtype: String, vals: Array[Double]): Array[Byte] = {
    val order =
      if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN
      else ByteOrder.LITTLE_ENDIAN
    dtype.drop(1) match {
      case "f8" =>
        val b = ByteBuffer.allocate(vals.length * 8).order(order)
        vals.foreach(b.putDouble); b.array()
      case "f4" =>
        val b = ByteBuffer.allocate(vals.length * 4).order(order)
        vals.foreach(v => b.putFloat(v.toFloat)); b.array()
      case "i4" =>
        val b = ByteBuffer.allocate(vals.length * 4).order(order)
        vals.foreach(v => b.putInt(v.toInt)); b.array()
      case "i2" =>
        val b = ByteBuffer.allocate(vals.length * 2).order(order)
        vals.foreach(v => b.putShort(v.toShort)); b.array()
      case "i1" | "u1" => vals.map(v => v.toInt.toByte)
      case _ => throw new IllegalArgumentException(
        s"unsupported zarr dtype $dtype for filter re-encode")
    }
  }

  private def unshuffleBytes(data: Array[Byte], elem: Int): Array[Byte] =
    ByteShuffle.reverse(data, elem)

  private def unDelta(data: Array[Byte], dtype: String): Array[Byte] = {
    val order =
      if (dtype.startsWith(">")) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN
    require(dtype.length >= 3, s"delta dtype '$dtype'")
    val kind = dtype(1)
    val width = dtype.substring(2).toInt
    val out = data.clone()
    val bb = java.nio.ByteBuffer.wrap(out).order(order)
    val n = data.length / width
    (kind, width) match {
      case ('f', 8) =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += bb.getDouble(i * 8); bb.putDouble(i * 8, acc); i += 1 }
      case ('f', 4) =>
        var acc = 0.0f; var i = 0
        while (i < n) { acc += bb.getFloat(i * 4); bb.putFloat(i * 4, acc); i += 1 }
      case ('i' | 'u', 1) =>
        var acc = 0L; var i = 0
        while (i < n) { acc += bb.get(i); bb.put(i, acc.toByte); i += 1 }
      case ('i' | 'u', 2) =>
        var acc = 0L; var i = 0
        while (i < n) { acc += bb.getShort(i * 2); bb.putShort(i * 2, acc.toShort); i += 1 }
      case ('i' | 'u', 4) =>
        var acc = 0L; var i = 0
        while (i < n) { acc += bb.getInt(i * 4); bb.putInt(i * 4, acc.toInt); i += 1 }
      case ('i' | 'u', 8) =>
        var acc = 0L; var i = 0
        while (i < n) { acc += bb.getLong(i * 8); bb.putLong(i * 8, acc); i += 1 }
      case (k, w) => throw new IllegalArgumentException(
        s"delta over dtype kind '$k' width $w unsupported")
    }
    out
  }

  /** One chunk of a numcodecs VLenUTF8 object-dtype array (the string
    * label axes zarr-python writes for coordinates): after the
    * compressor, a u32 LE item count then per item a u32 LE byte length
    * + UTF-8 payload, in C order over the full (padded) chunk box —
    * trimmed here exactly like numeric chunks.
    */
  def decodeStringChunk(meta: ArrayMeta, chunkKey: String,
                        bytes: Array[Byte])
      : (Array[Int], Array[Int], Array[String]) = {
    require(meta.filters.map(_.id) == Seq("vlen-utf8"),
      s"${meta.name}: string decode expects filters [vlen-utf8], " +
        s"got ${meta.filters.map(_.id)}")
    val idx = chunkKey.split('.').map(_.toInt)
    require(idx.length == meta.shape.length, s"bad chunk key $chunkKey")
    // v3 string chains may end in a crc32c checksum codec
    val checked = if (meta.crc32c) stripCrc32c(bytes, chunkKey) else bytes
    val raw = decompressBy(meta.compressor, checked)
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val n = b.getInt()
    require(n == meta.chunks.product,
      s"vlen chunk $chunkKey carries $n items for box ${meta.chunks}")
    val full = Array.fill(n) {
      val len = b.getInt()
      require(len >= 0 && len <= b.remaining(), s"vlen item length $len")
      val a = new Array[Byte](len); b.get(a)
      new String(a, java.nio.charset.StandardCharsets.UTF_8)
    }
    val origin = idx.zip(meta.chunks).map { case (i, c) => i * c }
    val trimmed = origin.zip(meta.chunks).zip(meta.shape).map {
      case ((o, c), s) => math.min(c, s - o)
    }
    val out = new Array[String](trimmed.product)
    val chunkStrides = strides(meta.chunks.toArray)
    val outStrides = strides(trimmed)
    var i = 0
    while (i < out.length) {
      var rem = i; var srcI = 0; var d = 0
      while (d < trimmed.length) {
        val coord = rem / outStrides(d); rem %= outStrides(d)
        srcI += coord * chunkStrides(d); d += 1
      }
      out(i) = full(srcI)
      i += 1
    }
    (origin, trimmed, out)
  }

  /** Assemble a whole object-dtype string array in C order — label axes
    * are metadata-scale, so a driver-side assembly is the right tool
    * (payload grids stay on the distributed numeric paths).
    */
  def readStringArray(store: Path, meta: ArrayMeta): Array[String] = {
    val dir = if (meta.name == "/") store else store.resolve(meta.name)
    val out = new Array[String](meta.nValues.toInt)
    val outStrides = strides(meta.shape.toArray)
    graft.Work.walkAll(dir).iterator
      .filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".") ||
        f.getFileName.toString == "zarr.json").foreach { f =>
        val (origin, shape, values) = decodeStringChunk(meta,
          keyFromPath(meta, dir.relativize(f).toString),
          Files.readAllBytes(f))
        val st = strides(shape)
        var i = 0
        while (i < values.length) {
          var rem = i; var dst = 0; var d = 0
          while (d < shape.length) {
            val c = rem / st(d); rem %= st(d)
            dst += (origin(d) + c) * outStrides(d); d += 1
          }
          out(dst) = values(i)
          i += 1
        }
      }
    out
  }

  /** Decode one chunk file to doubles, TRIMMED to its in-bounds region
    * (edge chunks are stored padded to full chunk shape). Returns the
    * flattened C-order values plus the trimmed shape and the chunk's
    * origin in array coordinates.
    */
  def decodeChunk(meta: ArrayMeta, chunkKey: String, bytes: Array[Byte])
      : (Array[Int], Array[Int], Array[Double]) = {
    val idx = chunkKey.split('.').map(_.toInt)
    require(idx.length == meta.shape.length, s"bad chunk key $chunkKey")
    require(!meta.filters.exists(_.id == "vlen-utf8"),
      s"${meta.name} is an object-dtype string array; " +
        "decode it with readStringArray, not the numeric scan")
    // checksum off first (crc32c is the outermost codec), then the
    // compressor, then filters reversed back-to-front (they were
    // applied in order before compression at write time)
    val checked = if (meta.crc32c) stripCrc32c(bytes, chunkKey) else bytes
    val unfiltered = meta.filters.reverse.foldLeft(
      decompressBy(meta.compressor, checked))((b, f) => unfilterV2(f, b))
    val stored = decodeDtype(meta.dtype, unfiltered)
    val full = meta.transpose
      .map(untranspose(stored, meta.chunks, _)).getOrElse(stored)
    val origin = idx.zip(meta.chunks).map { case (i, c) => i * c }
    trimBox(full, origin, meta.chunks, meta.shape)
  }

  /** All chunks carried by one store file: exactly one for ordinary
    * arrays, one per present INNER chunk for sharded arrays — the shape
    * every scan path consumes, so sharding is transparent downstream.
    */
  def decodeChunks(meta: ArrayMeta, chunkKey: String, bytes: Array[Byte])
      : Seq[(Array[Int], Array[Int], Array[Double])] =
    meta.shard match {
      case None => Seq(decodeChunk(meta, chunkKey, bytes))
      case Some(sh) => decodeShard(meta, sh, chunkKey, bytes)
    }

  /** `sharding_indexed` shard file: footer (or header) index of uint64
    * (offset, nbytes) pairs in row-major inner-grid order, all-ones =
    * chunk absent; each present inner chunk decodes through the INNER
    * codec chain and trims against the array bounds.
    */
  private def decodeShard(meta: ArrayMeta, sh: ShardMeta, chunkKey: String,
                          bytes: Array[Byte])
      : Seq[(Array[Int], Array[Int], Array[Double])] = {
    val idx = chunkKey.split('.').map(_.toInt)
    require(idx.length == meta.shape.length, s"bad chunk key $chunkKey")
    val shardOrigin = idx.zip(meta.chunks).map { case (i, c) => i * c }
    val grid = meta.chunks.zip(sh.inner).map { case (c, i) => (c + i - 1) / i }
    val n = grid.product
    val idxBytes = n * 16
    val idxSize = idxBytes + (if (sh.indexCrc) 4 else 0)
    require(bytes.length >= idxSize, s"shard smaller than its index")
    val idxOff = if (sh.indexAtEnd) bytes.length - idxSize else 0
    if (sh.indexCrc) {
      val crc = new java.util.zip.CRC32C
      crc.update(bytes, idxOff, idxBytes)
      val stored = ByteBuffer.wrap(bytes, idxOff + idxBytes, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt()
      require(crc.getValue.toInt == stored, "shard index crc32c mismatch")
    }
    val ib = ByteBuffer.wrap(bytes, idxOff, idxBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    val gridStrides = strides(grid.toArray)
    (0 until n).flatMap { li =>
      val off = ib.getLong(16 * li + idxOff)
      val len = ib.getLong(16 * li + idxOff + 8)
      if (off == -1L && len == -1L) None // absent: fill-value region
      else {
        val packed0 = java.util.Arrays.copyOfRange(bytes, off.toInt,
          off.toInt + len.toInt)
        val packed =
          if (sh.innerCrc) stripCrc32c(packed0, s"$chunkKey inner $li")
          else packed0
        val inner0 = decodeDtype(meta.dtype, decompressBy(sh.innerComp, packed))
        val full = sh.innerTranspose
          .map(untranspose(inner0, sh.inner, _)).getOrElse(inner0)
        val rel = new Array[Int](grid.length)
        var rem = li
        var d = 0
        while (d < grid.length) {
          rel(d) = (rem / gridStrides(d)) * sh.inner(d)
          rem %= gridStrides(d)
          d += 1
        }
        val origin = shardOrigin.zip(rel).map { case (a, b) => a + b }.toArray
        // an inner chunk can sit entirely past the array bounds when the
        // shard overhangs the edge — nothing to emit
        if (origin.zip(meta.shape).exists { case (o, sz) => o >= sz }) None
        else Some(trimBox(full, origin, sh.inner, meta.shape))
      }
    }
  }

  /** v3 `crc32c` codec on decode: the stored stream is payload + 4-byte
    * little-endian CRC32C; verify and strip (the same checksum the
    * shard-index path validates).
    */
  private def stripCrc32c(bytes: Array[Byte], ctx: String): Array[Byte] = {
    require(bytes.length >= 4, s"crc32c stream of ${bytes.length} bytes in $ctx")
    val n = bytes.length - 4
    val crc = new java.util.zip.CRC32C
    crc.update(bytes, 0, n)
    val stored = ByteBuffer.wrap(bytes, n, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt()
    require(crc.getValue.toInt == stored, s"chunk crc32c mismatch in $ctx")
    java.util.Arrays.copyOfRange(bytes, 0, n)
  }

  private def decompressBy(comp: String, bytes: Array[Byte]): Array[Byte] =
    comp match {
      case "zlib" => inflate(bytes)
      case "gzip" => gunzip(bytes)
      case "zstd" => unzstd(bytes)
      case "blosc" => Blosc.decompress(bytes)
      case "lz4" => unlz4Numcodecs(bytes)
      case _ => bytes
    }

  /** numcodecs LZ4 codec frame (lz4.pyx): a 4-byte LITTLE-endian
    * uncompressed size, then ONE raw LZ4 block — distinct from both the
    * HDF5 lz4 filter's big-endian multi-block frame (H5Filters) and
    * blosc's lz4 (whole-cbuffer header).
    */
  private def unlz4Numcodecs(bytes: Array[Byte]): Array[Byte] = {
    require(bytes.length >= 4, s"numcodecs lz4 frame of ${bytes.length} bytes")
    val n = java.nio.ByteBuffer.wrap(bytes, 0, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    require(n >= 0, s"numcodecs lz4 negative size $n")
    val out = new Array[Byte](n)
    net.jpountz.lz4.LZ4Factory.safeInstance().fastDecompressor()
      .decompress(bytes, 4, out, 0, n)
    out
  }

  /** Inverse of the v3 `transpose` codec: the stored chunk is C-order
    * over the PERMUTED dims (stored dim i = chunk dim order(i)); remap
    * back to C-order over the chunk dims.
    */
  private def untranspose(vals: Array[Double], chunks: Seq[Int],
                          order: Seq[Int]): Array[Double] = {
    val n = chunks.length
    val storedStr = strides(order.map(chunks).toArray)
    val outStr = strides(chunks.toArray)
    val out = new Array[Double](vals.length)
    var i = 0
    while (i < vals.length) {
      var rem = i; var outIdx = 0; var d = 0
      while (d < n) {
        val c = rem / storedStr(d); rem %= storedStr(d)
        outIdx += c * outStr(order(d))
        d += 1
      }
      out(outIdx) = vals(i)
      i += 1
    }
    out
  }

  /** Copy the in-bounds sub-box out of a padded C-order chunk. */
  private def trimBox(full: Array[Double], origin: Array[Int],
                      cdims: Seq[Int], shape: Seq[Int])
      : (Array[Int], Array[Int], Array[Double]) = {
    val trimmed = origin.zip(cdims).zip(shape).map {
      case ((o, c), s) => math.min(c, s - o)
    }
    val out = new Array[Double](trimmed.product)
    val nd = trimmed.length
    val chunkStrides = strides(cdims.toArray)
    val outStrides = strides(trimmed)
    var i = 0
    while (i < out.length) {
      var rem = i; var src = 0; var d = 0
      while (d < nd) {
        val coord = rem / outStrides(d); rem %= outStrides(d)
        src += coord * chunkStrides(d); d += 1
      }
      out(i) = full(src)
      i += 1
    }
    (origin, trimmed, out)
  }

  private def strides(shape: Array[Int]): Array[Int] = {
    val s = new Array[Int](shape.length)
    var acc = 1
    for (d <- shape.indices.reverse) { s(d) = acc; acc *= shape(d) }
    s
  }

  private[source] def decodeDtype(dtype: String, raw: Array[Byte]): Array[Double] = {
    val order =
      if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val buf = ByteBuffer.wrap(raw).order(order)
    dtype.drop(1) match {
      case "f8" => Array.fill(raw.length / 8)(buf.getDouble)
      case "f4" => Array.fill(raw.length / 4)(buf.getFloat.toDouble)
      case "f2" => Array.fill(raw.length / 2)(Half.toDouble(buf.getShort))
      case "i8" => Array.fill(raw.length / 8)(buf.getLong.toDouble)
      case "i4" => Array.fill(raw.length / 4)(buf.getInt.toDouble)
      case "i2" => Array.fill(raw.length / 2)(buf.getShort.toDouble)
      case "i1" => raw.map(_.toDouble)
      case "u8" => Array.fill(raw.length / 8) {
        val v = buf.getLong
        // numpy prints uint64 exactly; double holds 53 bits — the same
        // widening xarray applies when it promotes uint64 to float64
        if (v >= 0) v.toDouble else (v & Long.MaxValue).toDouble + 9.223372036854776e18
      }
      case "u4" => Array.fill(raw.length / 4)((buf.getInt.toLong & 0xFFFFFFFFL).toDouble)
      case "u2" => Array.fill(raw.length / 2)((buf.getShort & 0xFFFF).toDouble)
      case "u1" | "b1" => raw.map(b => (b & 0xFF).toDouble)
      case dt if dt.startsWith("M8[") || dt.startsWith("m8[") =>
        // numpy datetime64/timedelta64: int64 epoch ticks, NaT =
        // Long.MinValue → NaN. Doubles hold 53 bits — use
        // readLongArray where tick exactness matters.
        Array.fill(raw.length / 8) {
          val v = buf.getLong
          if (v == Long.MinValue) Double.NaN else v.toDouble
        }
      case _ => throw new IllegalArgumentException(
        s"unsupported zarr dtype $dtype")
    }
  }

  /** numpy datetime64/timedelta64 dtype ("<M8[ns]" / "<m8[us]" …). */
  def isTime64(dtype: String): Boolean =
    dtype.length > 3 && (dtype(1) == 'M' || dtype(1) == 'm') &&
      dtype(2) == '8' && dtype(3) == '['

  /** Seconds per tick for a datetime64/timedelta64 unit. */
  def timeUnitSeconds(dtype: String): Double = {
    val open = dtype.indexOf('[')
    val close = dtype.indexOf(']')
    require(open > 0 && close > open, s"no time unit in dtype $dtype")
    dtype.substring(open + 1, close) match {
      case "ns" => 1e-9; case "us" => 1e-6; case "ms" => 1e-3
      case "s" => 1.0; case "m" => 60.0; case "h" => 3600.0
      case "D" => 86400.0
      case u => throw new IllegalArgumentException(
        s"unsupported datetime64 unit '$u' in $dtype")
    }
  }

  /** Exact int64 assembly for datetime64/timedelta64 (and plain i8)
    * arrays — time/label axes are metadata-scale, so a driver-side
    * assembly is the right tool, mirroring [[readStringArray]]. Values
    * are raw epoch ticks; numpy NaT (Long.MinValue) passes through.
    */
  def readLongArray(store: Path, meta: ArrayMeta): Array[Long] = {
    require(isTime64(meta.dtype) || meta.dtype.drop(1) == "i8",
      s"${meta.name}: readLongArray expects an int64-backed dtype, " +
        s"got ${meta.dtype}")
    require(meta.filters.forall(_.id == "shuffle"),
      s"${meta.name}: filters ${meta.filters.map(_.id)} unsupported " +
        "on the int64 path (shuffle only)")
    require(meta.shard.isEmpty && meta.transpose.isEmpty,
      s"${meta.name}: sharded/transposed int64 arrays unsupported")
    val order = if (meta.dtype.startsWith(">")) ByteOrder.BIG_ENDIAN
                else ByteOrder.LITTLE_ENDIAN
    val dir = if (meta.name == "/") store else store.resolve(meta.name)
    val out = new Array[Long](meta.nValues.toInt)
    val outStrides = strides(meta.shape.toArray)
    graft.Work.walkAll(dir).iterator
      .filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".") ||
        f.getFileName.toString == "zarr.json").foreach { f =>
        val key = keyFromPath(meta, dir.relativize(f).toString)
        val idx = key.split('.').map(_.toInt)
        require(idx.length == meta.shape.length, s"bad chunk key $key")
        val raw = meta.filters.reverse.foldLeft(
          decompressBy(meta.compressor, Files.readAllBytes(f)))(
          (b2, flt) => unfilterV2(flt, b2))
        val buf = ByteBuffer.wrap(raw).order(order)
        val full = Array.fill(raw.length / 8)(buf.getLong)
        val origin = idx.zip(meta.chunks).map { case (i, c) => i * c }
        val trimmed = origin.zip(meta.chunks).zip(meta.shape).map {
          case ((o, c), s) => math.min(c, s - o)
        }
        val chunkStrides = strides(meta.chunks.toArray)
        val outShapeStrides = strides(trimmed.toArray)
        var i = 0
        val n = trimmed.product
        while (i < n) {
          var rem = i; var srcI = 0; var dst = 0; var d = 0
          while (d < trimmed.length) {
            val c = rem / outShapeStrides(d); rem %= outShapeStrides(d)
            srcI += c * chunkStrides(d)
            dst += (origin(d) + c) * outStrides(d)
            d += 1
          }
          out(dst) = full(srcI)
          i += 1
        }
      }
    out
  }

  private def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** zstd via the zstd-jni Spark already ships (stream API: frame
    * content size need not be recorded).
    */
  private def unzstd(bytes: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  private def inflate(bytes: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput())
        throw new IllegalArgumentException("truncated zlib chunk")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }
}

/** Spark-facing Zarr scan. */
object ZarrSource {

  /** Array-level manifest (driver-read metadata, like the reference). */
  def manifest(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    ZarrCodec.readMeta(Paths.get(store)).map { m =>
      val (dname, bits, orderName) = ZarrProbe.parseDtype(m.dtype)
      (m.store, m.name, m.shape, m.chunks, dname, bits, orderName,
        m.compressor, m.nValues, m.nChunks.map(_.toLong).product)
    }.toDF("store", "array", "shape", "chunks", "dtype", "bit_depth",
      "byte_order", "compressor", "n_values", "n_chunks")
  }

  /** The same per-(file, variable) manifest NetCdfSource.manifest
    * produces, over a forecast-shaped zarr GROUP (xarray layout: 1-D
    * coord arrays + 4-D bands, `_ARRAY_DIMENSIONS` naming, group
    * `.zattrs` carrying the dataset attrs). `path` is the store root for
    * every row — a store is one logical "file" the way a multi-band .nc
    * is.
    */
  def forecastManifest(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    val root = Paths.get(store)
    val gatts = ZarrCodec.readAttrs(root)
    val metas = ZarrCodec.readMeta(root)
    val names = metas.map(_.name)
    val xc = NetCdfSource.findCoord(names, NetCdfSource.XCandidates).orNull
    val yc = NetCdfSource.findCoord(names, NetCdfSource.YCandidates).orNull
    val latMin: java.lang.Double =
      gatts.get("geospatial_lat_min").flatMap(_.toDoubleOption)
        .map(Double.box).orNull
    metas.map { m =>
      val attrs = ZarrCodec.readAttrs(
        if (m.name == "/") root else root.resolve(m.name))
      val (dname, _, _) = ZarrProbe.parseDtype(m.dtype)
      (store, m.name, m.shape.length,
        attrs.getOrElse("_ARRAY_DIMENSIONS", ""), dname, m.nValues,
        attrs.get("units").orNull, gatts.get("geospatial_bounds_crs").orNull,
        xc, yc, m.shape.length == 4, latMin)
    }.toDF("path", "variable", "ndim", "dims", "dtype", "n_values",
      "units", "crs", "x_coord", "y_coord", "is_band", "lat_min")
  }

  /** Tidy decode of the 4-D bands of a forecast-shaped zarr group into
    * EXACTLY NetCdfSource.tidy's schema — one row per (variable,
    * time_idx, leadtime_idx, y) scanline, coords unit-normalized (P3).
    * Chunk files stream through binaryFile and decode in the executors;
    * the x axis must be unchunked so every chunk holds complete
    * scanlines (pick zarr chunk shapes scanline-major for this engine,
    * the same layout xarray forecast stores use). Coordinate arrays are
    * driver-read (tiny) and ride the task closure.
    */
  def tidy(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    val root = Paths.get(store)
    val metas = ZarrCodec.readMeta(root)
    val names = metas.map(_.name)
    def coord(cands: Seq[String]): (String, Array[Double], String) = {
      val n = NetCdfSource.findCoord(names, cands).getOrElse(
        throw new IllegalArgumentException(s"no coord among $cands in $store"))
      val m = metas.find(_.name == n).get
      require(m.shape.length == 1, s"coord $n is not 1-D")
      if (ZarrCodec.isTime64(m.dtype)) {
        // raw datetime64 axis (zarr-python without CF encoding):
        // exact int64 ticks scaled to epoch seconds, NaT → NaN
        val scale = ZarrCodec.timeUnitSeconds(m.dtype)
        (n, ZarrCodec.readLongArray(root, m).map(v =>
          if (v == Long.MinValue) Double.NaN else v * scale),
          "seconds since 1970-01-01")
      } else
        (n, ZarrCodec.readArray(root, m),
          ZarrCodec.readAttrs(root.resolve(n)).getOrElse("units", ""))
    }
    def norm(raw: Array[Double], units: String): Array[Double] =
      if (units == "km" || units == "1000 meter") raw.map(_ * 1000) else raw
    val (_, xRaw, xu) = coord(NetCdfSource.XCandidates)
    val (yName, yRaw, yu) = coord(NetCdfSource.YCandidates)
    val (tName, tVals, _) = coord(NetCdfSource.TimeCandidates)
    val (lName, lVals, _) = coord(NetCdfSource.LeadCandidates)
    val xs = norm(xRaw, xu); val ys = norm(yRaw, yu)
    val xName = NetCdfSource.findCoord(names, NetCdfSource.XCandidates).get

    // numeric 4-D arrays only: an object-dtype (vlen string) array can
    // never be a band payload
    val bands = metas.filter(m => m.shape.length == 4 &&
      !m.filters.exists(_.id == "vlen-utf8") && m.dtype != "|O")
    bands.map { m =>
      val dims = ZarrCodec.readAttrs(root.resolve(m.name))
        .getOrElse("_ARRAY_DIMENSIONS", "").split(",").toSeq
      require(dims == Seq(tName, yName, xName, lName),
        s"unexpected band layout $dims for ${m.name} in $store " +
          s"(expected ${Seq(tName, yName, xName, lName)})")
      val effX = m.shard.map(_.inner(2)).getOrElse(m.chunks(2))
      require(effX == m.shape(2),
        s"band ${m.name}: x axis must be unchunked for scanline reads " +
          s"(chunks=${m.chunks}, shape=${m.shape})")
      val vname = m.name
      chunkScan(spark, s"$store/$vname", m)
        .flatMap { case (path, bytes) =>
          ZarrCodec.decodeChunks(m, ZarrCodec.keyFromPath(m, path), bytes)
            .iterator.flatMap { case (origin, shape, values) =>
          val Array(ot, oy, _, ol) = origin
          val Array(ct, cy, cx, cl) = shape
          for {
            t <- (0 until ct).iterator
            l <- (0 until cl).iterator
            y <- (0 until cy).iterator
          } yield {
            val row = new Array[Double](cx)
            var x = 0
            while (x < cx) {
              row(x) = values(((t * cy + y) * cx + x) * cl + l)
              x += 1
            }
            (store, vname, ot + t, tVals(ot + t), ol + l, lVals(ol + l),
              oy + y, ys(oy + y), xs, row)
          }
          }
        }
        .toDF("path", "variable", "time_idx", "time", "leadtime_idx",
          "leadtime", "y_idx", "y", "xs", "values")
    }.reduce(_ unionByName _)
  }

  /** Chunk-parallel read of one array: one row per chunk, decoded and
    * trimmed in the executors — (chunk_key, origin, shape, values
    * flattened C-order).
    */
  def read(spark: SparkSession, store: String, array: String): DataFrame = {
    val meta = ZarrCodec.readMeta(Paths.get(store)).find(_.name == array)
      .getOrElse(throw new IllegalArgumentException(
        s"no array '$array' in $store"))
    val dir = if (array == "/") store else s"$store/$array"
    import spark.implicits._
    chunkScan(spark, dir, meta)
      .flatMap { case (path, bytes) =>
        val key = ZarrCodec.keyFromPath(meta, path)
        ZarrCodec.decodeChunks(meta, key, bytes).zipWithIndex.map {
          case ((origin, shape, values), i) =>
            // sharded files carry many chunks; suffix keeps keys unique
            val k = if (meta.shard.isEmpty) key else s"$key#$i"
            (k, origin.toSeq, shape.toSeq, values.toSeq)
        }
      }
      .toDF("chunk_key", "origin", "shape", "values")
  }

  /** Chunk-file scan for one array, format-aware: v2 chunks are flat
    * dot-keyed files (metadata is dot-hidden, invisible to binaryFile);
    * v3 chunks nest under the `c/` prefix, so the scan recurses and
    * filters the visible `zarr.json` out.
    */
  private def chunkScan(spark: SparkSession, dir: String,
                        meta: ZarrCodec.ArrayMeta) = {
    import spark.implicits._
    val base =
      if (meta.zarrFormat == 2 && meta.sep == ".")
        spark.read.format("binaryFile").load(s"$dir/*")
      else if (meta.zarrFormat == 2)
        // nested v2 (dimension_separator "/"): chunk files sit in index
        // subdirectories; dot-metadata stays hidden from binaryFile
        spark.read.format("binaryFile")
          .option("recursiveFileLookup", "true").load(dir)
      else
        spark.read.format("binaryFile")
          .option("recursiveFileLookup", "true").load(dir)
          .filter(!col("path").endsWith("zarr.json"))
    base.select(col("path"), col("content")).as[(String, Array[Byte])]
  }
}

/** Deterministic Zarr v2 store writer — the test/bench fixture twin of
  * NetCdfFixture (also a minimal K-side capability: the reference only
  * ever READS zarr).
  */
object ZarrFixture {

  def write(store: Path, name: String, shape: Seq[Int], chunks: Seq[Int],
            dtype: String = "<f8", compress: Boolean = true,
            attrs: Map[String, String] = Map.empty,
            dims: Seq[String] = Seq.empty,
            value: Seq[Int] => Double = _.sum.toDouble,
            bloscCname: Option[String] = None,
            filters: Seq[String] = Nil,
            sep: String = ".",
            bloscBitShuffle: Boolean = false,
            numCodec: Option[String] = None,
            fortranOrder: Boolean = false): Unit = {
    require(numCodec.isEmpty || bloscCname.isEmpty,
      "numCodec and bloscCname are mutually exclusive")
    val dir = store.resolve(name)
    Files.createDirectories(dir)
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    val allAttrs =
      (if (dims.nonEmpty)
         Map("_ARRAY_DIMENSIONS" ->
           dims.map(d => s""""$d"""").mkString("[", ", ", "]"))
       else Map.empty[String, String]) ++
        attrs.map { case (k, v) => k -> s""""$v"""" }
    if (allAttrs.nonEmpty)
      Files.writeString(dir.resolve(".zattrs"),
        allAttrs.map { case (k, v) => s""""$k": $v""" }
          .mkString("{", ", ", "}"))
    val comp = (bloscCname, numCodec) match {
      case (Some(cn), _) =>
        val sh = if (bloscBitShuffle) 2 else 1
        s"""{"id": "blosc", "cname": "$cn", "clevel": 5, "shuffle": $sh, "blocksize": 0}"""
      case (None, Some("zstd")) => """{"id": "zstd", "level": 3}"""
      case (None, Some("lz4")) => """{"id": "lz4", "acceleration": 1}"""
      case (None, Some(other)) =>
        throw new IllegalArgumentException(s"fixture numCodec $other")
      case (None, None) if compress => """{"id": "zlib", "level": 6}"""
      case (None, None) => "null"
    }
    val width = dtype.substring(2).toInt
    val filtJson =
      if (filters.isEmpty) "null"
      else filters.map {
        case "delta" =>
          s"""{"id": "delta", "dtype": "$dtype", "astype": "$dtype"}"""
        case "shuffle" => s"""{"id": "shuffle", "elementsize": $width}"""
        case "fixedscaleoffset" =>
          s"""{"id": "fixedscaleoffset", "scale": 1, "offset": 1000,""" +
            s""" "dtype": "$dtype", "astype": "<i4"}"""
        case "quantize" =>
          s"""{"id": "quantize", "digits": 3, "dtype": "$dtype",""" +
            s""" "astype": "$dtype"}"""
        case other =>
          throw new IllegalArgumentException(s"fixture filter $other")
      }.mkString("[", ", ", "]")
    Files.writeString(dir.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
         | "chunks": [${chunks.mkString(", ")}], "dtype": "$dtype",
         | "compressor": $comp, "fill_value": "NaN",
         | "order": "${if (fortranOrder) "F" else "C"}",
         | "dimension_separator": "$sep",
         | "filters": $filtJson}""".stripMargin)
    val nChunks = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    cartesian(nChunks).foreach { ci =>
      val origin = ci.zip(chunks).map { case (i, c) => i * c }
      def at(off: Seq[Int]): Double = {
        val coord = origin.zip(off).map { case (o, x) => o + x }
        // padded region: value of the clamped coordinate (arbitrary but
        // deterministic — readers must trim it away)
        if (coord.zip(shape).exists { case (x, s) => x >= s }) -1.0
        else value(coord)
      }
      val vals =
        if (!fortranOrder) cartesian(chunks).map(at)
        else cartesian(chunks.reverse).map(rc => at(rc.reverse))
      // filters apply IN ORDER before the compressor (numcodecs chain)
      val raw = filters.foldLeft(encode(dtype, vals)) { (b, f) =>
        f match {
          case "delta" => deltaEncode(b, dtype)
          case "shuffle" => Hdf5Write.shuffleBytes(b, width)
          case "fixedscaleoffset" =>
            // numcodecs encode: round((x - offset) * scale) packed astype
            val xs = ZarrCodec.decodeDtype(dtype, b)
            val out = ByteBuffer.allocate(xs.length * 4)
              .order(ByteOrder.LITTLE_ENDIAN)
            xs.foreach(v => out.putInt(math.round((v - 1000.0) * 1.0).toInt))
            out.array()
          case "quantize" =>
            // numcodecs encode: round(x * 10^digits) / 10^digits
            val xs = ZarrCodec.decodeDtype(dtype, b)
            encode(dtype, xs.map(v =>
              math.round(v * 1000.0) / 1000.0).toSeq)
          case other =>
            throw new IllegalArgumentException(s"fixture filter $other")
        }
      }
      val typesize = math.max(1, raw.length / vals.length)
      val bytes = (bloscCname, numCodec) match {
        case (Some(cn), _) =>
          Blosc.compress(raw, typesize, cn,
            shuffle = !bloscBitShuffle, bitShuffle = bloscBitShuffle)
        case (None, Some("zstd")) => com.github.luben.zstd.Zstd.compress(raw, 3)
        case (None, Some(_)) => // lz4: LE32 uncompressed size + one block
          val block = net.jpountz.lz4.LZ4Factory.safeInstance()
            .fastCompressor().compress(raw)
          java.nio.ByteBuffer.allocate(4 + block.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            .putInt(raw.length).put(block).array()
        case (None, None) => if (compress) deflate(raw) else raw
      }
      val target = dir.resolve(ci.mkString(sep))
      if (sep == "/") Files.createDirectories(target.getParent)
      Files.write(target, bytes)
    }
  }

  /** Object-dtype string array (numcodecs VLenUTF8 under zlib) — the
    * label-axis shape zarr-python writes for e.g. member/region name
    * coordinates. 1-D; `values` in index order.
    */
  def writeVlenUtf8(store: Path, name: String, values: Seq[String],
                    chunk: Int,
                    attrs: Map[String, String] = Map.empty): Unit = {
    val dir = store.resolve(name)
    Files.createDirectories(dir)
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    if (attrs.nonEmpty)
      Files.writeString(dir.resolve(".zattrs"),
        attrs.map { case (k, v) => s""""$k": "$v"""" }
          .mkString("{", ", ", "}"))
    Files.writeString(dir.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${values.length}],
         | "chunks": [$chunk], "dtype": "|O",
         | "compressor": {"id": "zlib", "level": 6}, "fill_value": null,
         | "order": "C",
         | "filters": [{"id": "vlen-utf8"}]}""".stripMargin)
    val nChunks = (values.length + chunk - 1) / chunk
    (0 until nChunks).foreach { ci =>
      val bos = new java.io.ByteArrayOutputStream()
      val b = new java.io.DataOutputStream(bos)
      def le32(v: Int): Unit = {
        b.write(v & 0xFF); b.write((v >> 8) & 0xFF)
        b.write((v >> 16) & 0xFF); b.write((v >> 24) & 0xFF)
      }
      le32(chunk) // full (padded) chunk box, like numeric chunks
      (0 until chunk).foreach { i =>
        val v = values.lift(ci * chunk + i).getOrElse("")
        val raw = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        le32(raw.length); b.write(raw)
      }
      Files.write(dir.resolve(ci.toString), deflate(bos.toByteArray))
    }
  }

  /** v3 string-array fixture (zarr-python 3 `dtype=str`): data_type
    * "string", codecs [vlen-utf8, gzip?, crc32c?], numcodecs VLenUTF8
    * chunk buffers, default "c/"-prefixed nested keys.
    */
  def writeStringV3(store: Path, name: String, values: Seq[String],
                    chunk: Int, gzip: Boolean = true,
                    withCrc32c: Boolean = false): Unit = {
    val dir = store.resolve(name)
    Files.createDirectories(dir.resolve("c"))
    if (!Files.exists(store.resolve("zarr.json")))
      Files.writeString(store.resolve("zarr.json"),
        """{"zarr_format": 3, "node_type": "group"}""")
    val tail = (if (gzip)
      """, {"name": "gzip", "configuration": {"level": 5}}""" else "") +
      (if (withCrc32c) """, {"name": "crc32c"}""" else "")
    Files.writeString(dir.resolve("zarr.json"),
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [${values.length}],
         | "data_type": "string",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [$chunk]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": "",
         | "codecs": [{"name": "vlen-utf8"}$tail]}""".stripMargin)
    val nChunks = (values.length + chunk - 1) / chunk
    (0 until nChunks).foreach { ci =>
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = {
        bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
        bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF)
      }
      le32(chunk)
      (0 until chunk).foreach { i =>
        val raw = values.lift(ci * chunk + i).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        le32(raw.length); bos.write(raw, 0, raw.length)
      }
      var packed = bos.toByteArray
      if (gzip) {
        val gbos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(gbos)
        gz.write(packed); gz.close()
        packed = gbos.toByteArray
      }
      if (withCrc32c) {
        val crc = new java.util.zip.CRC32C
        crc.update(packed, 0, packed.length)
        val out = java.util.Arrays.copyOf(packed, packed.length + 4)
        ByteBuffer.wrap(out, packed.length, 4)
          .order(ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
        packed = out
      }
      Files.write(dir.resolve("c").resolve(ci.toString), packed)
    }
  }

  /** int64-backed fixture (datetime64/timedelta64/i8): raw ticks,
    * zlib-compressed, optional byte-shuffle filter; edge chunks padded
    * to the full box like every v2 numeric chunk.
    */
  def writeInt64(store: Path, name: String, values: Seq[Long],
                 chunk: Int, dtype: String = "<M8[ns]",
                 shuffle: Boolean = false,
                 attrs: Map[String, String] = Map.empty,
                 dims: Seq[String] = Seq.empty): Unit = {
    val dir = store.resolve(name)
    Files.createDirectories(dir)
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    val extra = attrs.map { case (k, v) => s""""$k": "$v"""" } ++
      (if (dims.nonEmpty)
        Seq(s""""_ARRAY_DIMENSIONS": ${
          dims.map(d => s""""$d"""").mkString("[", ", ", "]")}""")
      else Seq.empty)
    if (extra.nonEmpty)
      Files.writeString(dir.resolve(".zattrs"),
        extra.mkString("{", ", ", "}"))
    val filterJson =
      if (shuffle) """[{"id": "shuffle", "elementsize": 8}]""" else "null"
    Files.writeString(dir.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${values.length}],
         | "chunks": [$chunk], "dtype": "$dtype",
         | "compressor": {"id": "zlib", "level": 6}, "fill_value": null,
         | "order": "C",
         | "filters": $filterJson}""".stripMargin)
    val nChunks = (values.length + chunk - 1) / chunk
    (0 until nChunks).foreach { ci =>
      val b = java.nio.ByteBuffer.allocate(chunk * 8)
        .order(if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN
               else ByteOrder.LITTLE_ENDIAN)
      (0 until chunk).foreach(i =>
        b.putLong(values.lift(ci * chunk + i).getOrElse(0L)))
      val raw =
        if (shuffle) graft.source.ByteShuffle.forward(b.array(), 8)
        else b.array()
      Files.write(dir.resolve(ci.toString), deflate(raw))
    }
  }

  /** zarr.consolidate_metadata analogue: gather every .zgroup/.zarray/
    * .zattrs under the store into ONE .zmetadata document (format 1 —
    * the member JSONs embedded verbatim under their relative keys).
    */
  def consolidate(store: Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = mapper.createObjectNode()
    rootNode.put("zarr_consolidated_format", 1)
    val md = rootNode.putObject("metadata")
    graft.Work.walkAll(store)
      .filter(Files.isRegularFile(_))
      .filter(f => Set(".zgroup", ".zarray", ".zattrs")(
        f.getFileName.toString))
      .sortBy(_.toString)
      .foreach { f =>
        md.set[com.fasterxml.jackson.databind.JsonNode](
          store.relativize(f).toString.replace('\\', '/'),
          mapper.readTree(Files.readString(f)))
      }
    Files.writeString(store.resolve(".zmetadata"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootNode))
  }

  /** Forward delta (out[i] = in[i] − in[i−1]) in the dtype's native
    * arithmetic — the encode twin of the reader's cumulative decode.
    */
  private def deltaEncode(data: Array[Byte], dtype: String): Array[Byte] = {
    val order =
      if (dtype.startsWith(">")) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN
    val kind = dtype(1)
    val width = dtype.substring(2).toInt
    val out = data.clone()
    val bb = java.nio.ByteBuffer.wrap(out).order(order)
    val n = data.length / width
    (kind, width) match {
      case ('f', 8) =>
        var i = n - 1
        while (i >= 1) {
          bb.putDouble(i * 8, bb.getDouble(i * 8) - bb.getDouble((i - 1) * 8))
          i -= 1
        }
      case ('f', 4) =>
        var i = n - 1
        while (i >= 1) {
          bb.putFloat(i * 4, bb.getFloat(i * 4) - bb.getFloat((i - 1) * 4))
          i -= 1
        }
      case ('i' | 'u', 4) =>
        var i = n - 1
        while (i >= 1) {
          bb.putInt(i * 4, bb.getInt(i * 4) - bb.getInt((i - 1) * 4))
          i -= 1
        }
      case (k, w) => throw new IllegalArgumentException(
        s"fixture delta over kind '$k' width $w")
    }
    out
  }

  def writeGroupAttrs(store: Path, attrs: Map[String, String]): Unit = {
    Files.createDirectories(store)
    Files.writeString(store.resolve(".zattrs"),
      attrs.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))
  }

  /** Zarr v3 rendering of [[write]]: per-node `zarr.json`, chunks under
    * the `c/` prefix (default key encoding, "/" separator), codec chain
    * `bytes` + one of null/gzip/zstd.
    */
  def writeV3(store: Path, name: String, shape: Seq[Int], chunks: Seq[Int],
              dtype: String = "<f8", codec: String = "zstd",
              attrs: Map[String, String] = Map.empty,
              dims: Seq[String] = Seq.empty,
              value: Seq[Int] => Double = _.sum.toDouble,
              shardInner: Option[Seq[Int]] = None,
              transposeOrder: Option[Seq[Int]] = None,
              withCrc32c: Boolean = false): Unit = {
    val dir = store.resolve(name)
    Files.createDirectories(dir)
    if (!Files.exists(store.resolve("zarr.json")))
      Files.writeString(store.resolve("zarr.json"),
        """{"zarr_format": 3, "node_type": "group"}""")
    val dataType = dtype.drop(1) match {
      case "f8" => "float64"; case "f4" => "float32"
      case "i8" => "int64"; case "i4" => "int32"; case "i2" => "int16"
      case "u4" => "uint32"; case "u2" => "uint16"; case "u1" => "uint8"
      case other => throw new IllegalArgumentException(s"fixture dtype $other")
    }
    val endian = if (dtype.startsWith(">")) "big" else "little"
    val bytesCodec =
      s"""{"name": "bytes", "configuration": {"endian": "$endian"}}"""
    val transJson = transposeOrder.map(o =>
      s"""{"name": "transpose", "configuration": """ +
        s"""{"order": [${o.mkString(", ")}]}}, """).getOrElse("")
    val crcJson = if (withCrc32c) """, {"name": "crc32c"}""" else ""
    val innerChainJson = codec match {
      case "null" => s"[$transJson$bytesCodec$crcJson]"
      case "gzip" =>
        s"""[$transJson$bytesCodec, {"name": "gzip", "configuration": {"level": 5}}$crcJson]"""
      case "zstd" =>
        s"""[$transJson$bytesCodec, {"name": "zstd", "configuration": {"level": 3}}$crcJson]"""
    }
    val codecsJson = shardInner match {
      case None => innerChainJson
      case Some(inner) =>
        s"""[{"name": "sharding_indexed", "configuration": {
           |  "chunk_shape": [${inner.mkString(", ")}],
           |  "codecs": $innerChainJson,
           |  "index_codecs": [{"name": "bytes",
           |    "configuration": {"endian": "little"}}, {"name": "crc32c"}],
           |  "index_location": "end"}}]""".stripMargin
    }
    val attrsJson = attrs.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    val dimsJson =
      if (dims.isEmpty) ""
      else s""", "dimension_names": [${dims.map(d => s""""$d"""").mkString(", ")}]"""
    Files.writeString(dir.resolve("zarr.json"),
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [${shape.mkString(", ")}],
         | "data_type": "$dataType",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
         | "chunk_key_encoding": {"name": "default",
         |   "configuration": {"separator": "/"}},
         | "fill_value": "NaN",
         | "codecs": $codecsJson,
         | "attributes": $attrsJson$dimsJson}""".stripMargin)
    def pack(raw: Array[Byte]): Array[Byte] = {
      val packed = codec match {
        case "gzip" =>
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(raw); gz.close()
          bos.toByteArray
        case "zstd" => com.github.luben.zstd.Zstd.compress(raw, 3)
        case _ => raw
      }
      if (!withCrc32c) packed
      else { // trailing 4-byte LE crc32c over the packed stream
        val crc = new java.util.zip.CRC32C
        crc.update(packed, 0, packed.length)
        val out = java.util.Arrays.copyOf(packed, packed.length + 4)
        ByteBuffer.wrap(out, packed.length, 4)
          .order(ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
        out
      }
    }
    def chunkValues(origin: Seq[Int], cshape: Seq[Int]): Array[Byte] = {
      val vals = cartesian(cshape).map { off =>
        val coord = origin.zip(off).map { case (o, x) => o + x }
        if (coord.zip(shape).exists { case (x, s) => x >= s }) -1.0
        else value(coord)
      }
      transposeOrder match {
        case None => encode(dtype, vals)
        case Some(order) =>
          // store C-order over the PERMUTED dims (the transpose codec's
          // encode direction)
          val arr = vals.toArray
          val srcStr = { // strides of the un-permuted chunk
            val st = new Array[Int](cshape.length); var acc = 1
            for (d <- cshape.indices.reverse) { st(d) = acc; acc *= cshape(d) }
            st
          }
          val stored = cartesian(order.map(cshape)).map { sc =>
            var src = 0
            for (d <- sc.indices) src += sc(d) * srcStr(order(d))
            arr(src)
          }
          encode(dtype, stored)
      }
    }
    val nChunks = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    cartesian(nChunks).foreach { ci =>
      val origin = ci.zip(chunks).map { case (i, c) => i * c }
      val bytes = shardInner match {
        case None => pack(chunkValues(origin, chunks))
        case Some(inner) =>
          // shard: packed inner chunks + uint64 (offset, nbytes) index
          // + crc32c footer (index_location "end")
          val grid = chunks.zip(inner).map { case (c, i) => (c + i - 1) / i }
          val body = new java.io.ByteArrayOutputStream()
          val index = ByteBuffer.allocate(grid.product * 16 + 4)
            .order(ByteOrder.LITTLE_ENDIAN)
          cartesian(grid).foreach { ii =>
            val innerOrigin = origin.zip(ii.zip(inner)).map {
              case (o, (i, c)) => o + i * c
            }
            if (innerOrigin.zip(shape).exists { case (o, sz) => o >= sz }) {
              index.putLong(-1L); index.putLong(-1L) // absent chunk
            } else {
              val packed = pack(chunkValues(innerOrigin, inner))
              index.putLong(body.size().toLong)
              index.putLong(packed.length.toLong)
              body.write(packed)
            }
          }
          val crc = new java.util.zip.CRC32C
          crc.update(index.array(), 0, grid.product * 16)
          index.putInt(crc.getValue.toInt)
          body.write(index.array())
          body.toByteArray
      }
      val f = dir.resolve("c").resolve(ci.mkString("/"))
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
    }
  }

  def writeGroupAttrsV3(store: Path, attrs: Map[String, String]): Unit = {
    Files.createDirectories(store)
    val attrsJson = attrs.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    Files.writeString(store.resolve("zarr.json"),
      s"""{"zarr_format": 3, "node_type": "group", "attributes": $attrsJson}""")
  }

  /** [[writeForecast]] in v3 form — same closed-form payload, zstd on
    * one band and gzip on the other for codec coverage.
    */
  def writeForecastV3(store: Path, nt: Int = 1, ny: Int = 8, nx: Int = 8,
                      nl: Int = 3, tStart: Double = 0.0): Unit = {
    writeGroupAttrsV3(store, Map(
      "geospatial_bounds_crs" -> "EPSG:6931",
      "geospatial_lat_min" -> "45.0",
      "source" -> "graft synthetic fixture"))
    writeV3(store, "time", Seq(nt), Seq(nt), codec = "null",
      attrs = Map("units" -> "days since 2025-01-01"), dims = Seq("time"),
      value = c => tStart + c.head)
    writeV3(store, "yc", Seq(ny), Seq(ny), codec = "null",
      attrs = Map("units" -> "km"), dims = Seq("yc"),
      value = c => 100.0 + c.head)
    writeV3(store, "xc", Seq(nx), Seq(nx), codec = "null",
      attrs = Map("units" -> "km"), dims = Seq("xc"),
      value = c => 200.0 + c.head)
    writeV3(store, "leadtime", Seq(nl), Seq(nl), codec = "null",
      dims = Seq("leadtime"), value = c => c.head.toDouble)
    val bandDims = Seq("time", "yc", "xc", "leadtime")
    val bandShape = Seq(nt, ny, nx, nl)
    val bandChunks = Seq(nt, (ny + 1) / 2, nx, nl)
    writeV3(store, "sic_mean", bandShape, bandChunks, codec = "zstd",
      dims = bandDims,
      attrs = Map("units" -> "1",
        "long_name" -> "sea ice concentration mean"),
      value = { c =>
        val Seq(t, y, x, l) = c
        if ((y * nx + x + l) % 17 == 0) Double.NaN
        else (t + 1) * 0.1 + y * 0.01 + x * 0.001 + l * 0.0001
      })
    writeV3(store, "sic_stddev", bandShape, bandChunks, codec = "gzip",
      dims = bandDims, attrs = Map("units" -> "1"),
      value = { c => val Seq(t, y, x, l) = c; (y + x + l + t) * 0.005 })
  }

  /** Forecast-shaped store mirroring NetCdfFixture.bytes value-for-value
    * (same closed-form payload, same NaN stride, same coords/attrs), so
    * the pipeline can be driven by either format and produce identical
    * statistics. Bands chunk scanline-major: x unchunked, (t, y, l)
    * split — the layout ZarrSource.tidy requires.
    */
  def writeForecast(store: Path, nt: Int = 1, ny: Int = 8, nx: Int = 8,
                    nl: Int = 3, tStart: Double = 0.0): Unit = {
    writeGroupAttrs(store, Map(
      "geospatial_bounds_crs" -> "EPSG:6931",
      "geospatial_lat_min" -> "45.0",
      "source" -> "graft synthetic fixture"))
    write(store, "time", Seq(nt), Seq(nt),
      attrs = Map("units" -> "days since 2025-01-01"), dims = Seq("time"),
      value = c => tStart + c.head)
    write(store, "yc", Seq(ny), Seq(ny), attrs = Map("units" -> "km"),
      dims = Seq("yc"), value = c => 100.0 + c.head)
    write(store, "xc", Seq(nx), Seq(nx), attrs = Map("units" -> "km"),
      dims = Seq("xc"), value = c => 200.0 + c.head)
    write(store, "leadtime", Seq(nl), Seq(nl), dims = Seq("leadtime"),
      value = c => c.head.toDouble)
    val bandDims = Seq("time", "yc", "xc", "leadtime")
    val bandShape = Seq(nt, ny, nx, nl)
    val bandChunks = Seq(nt, (ny + 1) / 2, nx, nl) // y split, x whole
    write(store, "sic_mean", bandShape, bandChunks, dims = bandDims,
      attrs = Map("units" -> "1",
        "long_name" -> "sea ice concentration mean"),
      value = { c =>
        val Seq(t, y, x, l) = c
        if ((y * nx + x + l) % 17 == 0) Double.NaN
        else (t + 1) * 0.1 + y * 0.01 + x * 0.001 + l * 0.0001
      })
    write(store, "sic_stddev", bandShape, bandChunks, dims = bandDims,
      attrs = Map("units" -> "1"),
      value = { c => val Seq(t, y, x, l) = c; (y + x + l + t) * 0.005 })
  }

  private def cartesian(dims: Seq[Int]): Seq[Seq[Int]] =
    dims.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(prefix => (0 until n).map(prefix :+ _))
    }

  private def encode(dtype: String, vals: Seq[Double]): Array[Byte] = {
    val order =
      if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    dtype.drop(1) match {
      case "f8" =>
        val b = ByteBuffer.allocate(vals.length * 8).order(order)
        vals.foreach(b.putDouble); b.array()
      case "f4" =>
        val b = ByteBuffer.allocate(vals.length * 4).order(order)
        vals.foreach(v => b.putFloat(v.toFloat)); b.array()
      case "f2" =>
        val b = ByteBuffer.allocate(vals.length * 2).order(order)
        vals.foreach(v => b.putShort(Half.fromDouble(v))); b.array()
      case "i8" =>
        val b = ByteBuffer.allocate(vals.length * 8).order(order)
        vals.foreach(v => b.putLong(v.toLong)); b.array()
      case "i4" =>
        val b = ByteBuffer.allocate(vals.length * 4).order(order)
        vals.foreach(v => b.putInt(v.toInt)); b.array()
      case "i2" =>
        val b = ByteBuffer.allocate(vals.length * 2).order(order)
        vals.foreach(v => b.putShort(v.toShort)); b.array()
      case "u4" =>
        val b = ByteBuffer.allocate(vals.length * 4).order(order)
        vals.foreach(v => b.putInt(v.toLong.toInt)); b.array()
      case "u2" =>
        val b = ByteBuffer.allocate(vals.length * 2).order(order)
        vals.foreach(v => b.putShort(v.toInt.toShort)); b.array()
      case "u1" => vals.map(v => (v.toInt & 0xFF).toByte).toArray
      case other => throw new IllegalArgumentException(s"fixture dtype $other")
    }
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
