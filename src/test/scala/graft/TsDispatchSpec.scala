package graft

import org.apache.spark.graft.TempDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-drift law for the events table: the driver's generator has
  * shipped `ts` as int64 epoch-nanos in some rounds and timestamp[us]
  * in others (round 4 lost 8 green queries to exactly this drift).
  * Engine.normalizeEventTs must make every event-time query invariant
  * to the encoding — pinned here by materializing the SAME events in
  * all three arrivals (epoch-nanos long, timestamp_ntz, timestamp) and
  * asserting identical query output on each.
  */
class TsDispatchSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  test("q25/q26/q44 results are invariant to the events.ts encoding") {
    val base = TempDirs.create("ts_dispatch").toString
    val ev = Engine.table(spark, sf(), "events") // normalized: TimestampType
    val variants = Seq(
      // epoch-nanos long — the nanosAsLong face of TIMESTAMP(NANOS)
      "nanos" -> ev.withColumn("ts", expr("unix_micros(ts) * 1000L")),
      // timestamp[us] isAdjustedToUTC=false — what pandas/pyarrow write
      "ntz" -> ev.withColumn("ts", col("ts").cast("timestamp_ntz")),
      // already-normalized native timestamp
      "micros" -> ev)
    variants.foreach { case (tag, df) =>
      df.write.mode("overwrite").parquet(s"$base/$tag/events.parquet")
    }
    Seq("q25_tumbling_window", "q26_session_windows", "q44_asof_join")
      .foreach { q =>
        val out = variants.map { case (tag, _) =>
          tag -> rows(SparkEntry.queries(q)(spark, s"$base/$tag"))
        }
        val (refTag, ref) = out.head
        assert(ref.nonEmpty, s"$q produced no rows under $refTag")
        out.tail.foreach { case (tag, got) =>
          assert(got == ref, s"$q: encoding $tag diverges from $refTag")
        }
        Checkpoints.release()
      }
  }
}
