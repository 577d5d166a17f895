package graft.source

import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.ObjectMapper

/** S7/F16 — Zarr store probe (ref stac/utils.py:119-133): a zarr store
  * is a directory; its first array's `.zarray` JSON carries the dtype,
  * and the store "size" is the recursive byte sum of the tree (A6, ref
  * stac/utils.py:77-83).
  */
object ZarrProbe {

  final case class Info(dataType: String, bitDepth: Int, byteOrder: String,
                        totalSize: Long)

  /** numpy dtype string ("<f8", ">i4", "|u1", "|O") → (name, bits,
    * order). Object dtype ("|O", vlen string label axes) has no fixed
    * width — reported as `object` with bit depth 0.
    */
  def parseDtype(d: String): (String, Int, String) = {
    if (d == "|O") return ("object", 0, "little-endian")
    val order = d.head match {
      case '>' => "big-endian"
      case _ => "little-endian" // '<' and '|' (not applicable) both map little
    }
    if (d.length > 3 && (d(1) == 'M' || d(1) == 'm') && d(2) == '8') {
      // numpy datetime64[unit] / timedelta64[unit]: int64 ticks
      val name = if (d(1) == 'M') "datetime64" else "timedelta64"
      return (s"$name${d.drop(3)}", 64, order)
    }
    val kind = d(1) match {
      case 'f' => "float"; case 'i' => "int"; case 'u' => "uint"
      case 'b' => "bool"; case c => c.toString
    }
    val bytes = d.drop(2).toInt
    (s"$kind${bytes * 8}", bytes * 8, order)
  }

  def probe(store: Path): Option[Info] = {
    if (!Files.isDirectory(store)) return None
    val zarray = graft.Work.walkAll(store)
      .find(_.getFileName.toString == ".zarray")
    zarray.map { za =>
      val node = new ObjectMapper().readTree(Files.readString(za))
      val (name, bits, order) = parseDtype(node.get("dtype").asText())
      val total = graft.Work.walkAll(store).iterator
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      Info(name, bits, order, total)
    }
  }
}
