package graft.queries

import graft.Engine
import graft.expressions.Md5Hashes
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The blob-shard harness of the writer and format-reader queries
  * (WriterQueries, IngestionQueries): `documents` split into blobs by
  * `doc_id % mod`, each blob's ids sorted, the blob key a fixture
  * generator filed its bytes under, and the join of that keyed fixture.
  * ONE spelling, so a change to the split, the key or the fixture root
  * cannot miss a query. The oracle SQL spells the same steps in DuckDB
  * (`doc_id % 6`, `md5(tag || string_agg(d, ',' ORDER BY d))`).
  */
private[queries] object Blobs {

  /** The directory of the committed fixture files. It is the directory
    * the oracle SQL strings name, so a query's Spark side and its oracle
    * read the same files, and rendered SQL is the same text whatever the
    * working directory.
    */
  private val Root = java.nio.file.Paths.get("/root/repo/fixtures")

  /** `file` resolved against the fixture root (an absolute path stays
    * as it is).
    */
  def path(file: String): String = Root.resolve(file).toString

  /** `f(blobId, ids)` once per blob of `documents` split by
    * `doc_id % mod`, with the blob's doc ids in ascending order.
    */
  def byBlob[T: Encoder](s: SparkSession, dir: String, mod: Int)(
      f: (Long, Seq[Long]) => IterableOnce[T]): Dataset[T] = {
    import s.implicits._
    Engine.table(s, dir, "documents")
      .select((col("doc_id") % mod).as("blob_id"), col("doc_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups((blobId, it) => f(blobId, it.map(_._2).toSeq.sorted))
  }

  /** The blob key of a blob's sorted ids: md5 hex of
    * `tag + ids.mkString(",")`.
    */
  def key(tag: String, ids: Seq[Long]): String =
    Md5Hashes.md5Hex(tag + ids.mkString(","))

  /** (blob_id, blob_key) of each of the six blobs joined to the rows
    * the fixture `file` holds under that key.
    */
  def fixture(s: SparkSession, dir: String, tag: String,
              file: String): DataFrame = {
    import s.implicits._
    join(byBlob(s, dir, 6)((b, ids) => Iterator.single((b, key(tag, ids))))
      .toDF("blob_id", "blob_key"), file)
  }

  /** `keys` joined on `blob_key` to the fixture `file`. */
  def join(keys: DataFrame, file: String): DataFrame =
    // bounded: a committed fixture holds a few rows per blob of each
    // testdata scale (8 MB at most), whatever the size of `keys`
    keys.join(broadcast(keys.sparkSession.read.parquet(path(file))),
      "blob_key")

  /** The text the writer queries store for doc `d`. */
  def payload(d: Long): String = "doc-" + d + "-" + ("x" * (d % 17).toInt)

  /** md5 hex of a written table: each file's path, a NUL byte and its
    * bytes, in path order.
    */
  def bundleMd5(files: Iterable[(String, Array[Byte])]): String =
    Md5Hashes.md5HexOfParts(files.toSeq.sortBy(_._1).iterator.flatMap {
      case (p, b) => Iterator(p.getBytes("UTF-8"), Array(0.toByte), b)
    })
}
