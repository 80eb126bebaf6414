package graft

import graft.sources.Parquet

/** Truncation sweeps for the fail-closed decoder specs: every prefix
  * length of a blob, strided so that one sweep makes at most about
  * `maxCuts` cuts.
  */
object CutSweep {

  def cuts(len: Int, maxCuts: Int = 2000): Range =
    0 until len by math.max(1, len / maxCuts)

  /** A committed fixture's `(rel_path, file_bytes)` rows, read through
    * the engine's own parquet reader so that Spark-free specs can use
    * them.
    */
  def fixtureFiles(path: String): Seq[(String, Array[Byte])] = {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val paths = Parquet.columnStrings(b, "rel_path")
      .getOrElse(sys.error(s"$path: rel_path unreadable"))
    val files = Parquet.columnBins(b, "file_bytes")
      .getOrElse(sys.error(s"$path: file_bytes unreadable"))
    paths.toSeq.zip(files)
  }
}
