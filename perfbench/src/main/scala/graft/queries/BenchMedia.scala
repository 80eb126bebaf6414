package graft.queries

/** The media the registered decode queries synthesize per document, for
  * the benchmark's Spark-free image decoder loops.
  */
object BenchMedia {
  def png(text: String): Array[Byte] = MediaGen.pngFor(text)
  def jpeg(text: String): Array[Byte] = MediaGen.jpegFor(text)
}
