package graft.source

import java.nio.file.{Files, Path, Paths}

/** S2/S3/P10 — input discovery (ref utils.py:85-119, utils.py:34-44,
  * preprocess.py:49-74): directory → extension-filtered listing, single
  * file → itself when the extension matches; nested input lists
  * flattened; nonexistent paths dropped (with the count surfaced so the
  * caller can warn, preprocess.py:64-67). The surviving list feeds one
  * multi-path/glob Spark scan — per-file loops never reach the engine.
  */
object Discovery {

  /** get_nc_files: dir → *.ext listing (sorted for determinism), file →
    * itself iff extension matches, else empty. A directory that IS a
    * zarr store (v2 `.zgroup` / v3 `zarr.json` marker) resolves to
    * itself — one store is one logical multiband input, the way a .nc
    * file is.
    */
  def files(location: Path, extension: String = "nc"): Seq[Path] = {
    if (Files.isDirectory(location) &&
      (Files.exists(location.resolve(".zgroup")) ||
        Files.exists(location.resolve("zarr.json"))))
      Seq(location.toAbsolutePath)
    else if (Files.isDirectory(location))
      graft.Work.listDir(location)
        .filter(p => p.getFileName.toString.endsWith(s".$extension"))
        .sortBy(_.toString)
    else if (Files.isRegularFile(location) &&
      location.toString.toLowerCase.endsWith(s".$extension"))
      Seq(location.toAbsolutePath)
    else Seq.empty
  }

  /** flatten_list: arbitrarily nested sequences of paths/strings →
    * flat path list.
    */
  def flatten(input: Any): Seq[Path] = input match {
    case s: Seq[_] => s.flatMap(flatten)
    case p: Path => Seq(p)
    case s: String => Seq(Paths.get(s))
    case other =>
      throw new IllegalArgumentException(s"not a path: $other")
  }

  /** Existence filter: (surviving, dropped-count). */
  def existing(paths: Seq[Path]): (Seq[Path], Int) = {
    val (ok, missing) = paths.partition(Files.exists(_))
    (ok, missing.size)
  }

  /** Full input resolution for a preprocess run: discover, flatten,
    * existence-filter, fail on empty (preprocess.py:60-62, 72-74).
    */
  def resolve(locations: Seq[String], extension: String = "nc"): Seq[Path] = {
    val discovered = flatten(locations).flatMap(files(_, extension))
    val (ok, dropped) = existing(discovered)
    if (dropped > 0)
      System.err.println(s"[discovery] dropped $dropped nonexistent input(s)")
    require(ok.nonEmpty, s"No input files found in: $locations")
    ok
  }
}
