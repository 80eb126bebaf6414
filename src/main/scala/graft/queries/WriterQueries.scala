package graft.queries

import graft.Engine
import graft.expressions.Md5Hashes
import graft.expressions.Md5Hashes.{hash60Bytes, md5Hex}
import org.apache.spark.sql.functions._

/** Round-13 write-side queries: the engine's own columnar writers
  * widened from toy int64 pairs to real training-shard schemas —
  * strings, nullable columns, dictionary pages, write-side page
  * index/bloom, and the compression encoders that make the written
  * bytes genuinely small. Every query follows the q295 discipline:
  * deterministic layout, md5-pinned independent Python twin where the
  * bytes are deterministic, independent JVM/Python READERS of the
  * engine's output in the specs, and the engine's OWN reader decoding
  * its own bytes back to relational truth inside the oracled query.
  *
  * Reference tie-in: the reference pipeline's terminal sinks are
  * xlsx/Postgres (pdf_to_xlsx.py:118-135, import_files_to_postgre
  * .py:217-293); a 100 TB training-data pipeline's terminal sink is
  * columnar shards. These queries close that sink from first
  * principles on both ends.
  */
object WriterQueries {

  /** The q310 shard derivations, shared by build and twin: all
    * derived from doc_id so the same ids always yield the same file
    * (moduli 5/7/11/17 — coprime with the %6 blob split, the fixture
    * trap memory r12 hit twice).
    */
  private val Langs = Array("en", "es", "fr", "de", "pt")

  def defs: Seq[(String, QueryDef)] = Seq(

    // q310 — the own parquet writer carries a REAL corpus schema:
    // BYTE_ARRAY text (PLAIN), a nullable dictionary-encoded lang
    // column (OPTIONAL def levels + PLAIN dict page + RLE_DICTIONARY
    // indices), a nullable INT64 score, footer Statistics on every
    // chunk — written from first principles (ParquetWrite.writeFile),
    // md5-pinned byte-for-byte against an independent Python twin
    // (scripts/make_parquet_write2_oracle.py, which also re-reads the
    // twin's bytes with pyarrow AND DuckDB), cross-read by parquet-mr
    // in ParquetSpec, and decoded back to relational truth by the
    // engine's OWN reader here — n_rows, sums, null counts, and the
    // footer stats bounds all re-derive in DuckDB from `documents`.
    "q310_parquet_write_corpus" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, sortedIds) =>
          val ids = sortedIds.toArray
          val n = ids.length
          val W = graft.sources.ParquetWrite
          def utf8(x: String) = x.getBytes("UTF-8")
          val txts = ids.map(d => utf8(Blobs.payload(d)))
          val langDefs = ids.map(d => if (d % 7 == 0) 0 else 1)
          val langs = ids.filter(_ % 7 != 0)
            .map(d => utf8(Langs((d % 5).toInt)))
          val scoreDefs = ids.map(d => if (d % 11 == 3) 0 else 1)
          val scores = ids.filter(_ % 11 != 3).map(d => (d * d) % 997)
          val fields = Seq(
            W.Leaf("rec_id", 0, 2),
            W.Leaf("txt", 0, 6, convertedType = 0),
            W.Leaf("lang", 1, 6, convertedType = 0),
            W.Leaf("score", 1, 2))
          val bytes = W.writeFile(fields, Seq(
            W.LeafData(Array.fill(n)(0), null, longs = ids),
            W.LeafData(Array.fill(n)(0), null, bins = txts),
            W.LeafData(langDefs, null, bins = langs, dict = true),
            W.LeafData(scoreDefs, null, longs = scores)),
            withStats = true)
          val fileMd5 = md5Hex(bytes)
          // decode-own-write law: every output number below comes
          // from the engine's reader walking the bytes it just wrote
          val P = graft.sources.Parquet
          P.parseFooter(bytes).toSeq.flatMap { fm =>
            def cells(path: String) = {
              val (d, r) = fm.leafLevels(path)
              fm.rowGroups.head.cols.find(_.path == path)
                .flatMap(c => P.readChunkCells(bytes, c, d, r))
            }
            (cells("rec_id"), cells("txt"), cells("lang"),
              cells("score")) match {
              case (Some(rc), Some(tc), Some(lc), Some(sc))
                if rc.longs.toSeq == ids.toSeq =>
                val idCol = fm.rowGroups.head.cols
                  .find(_.path == "rec_id").get
                (idCol.minLong, idCol.maxLong) match {
                  case (Some(mn), Some(mx)) =>
                    Seq((blobId, fileMd5, bytes.length.toLong,
                      rc.longs.length.toLong, rc.longs.sum,
                      tc.bins.map(_.length.toLong).sum,
                      lc.defs.count(_ == 0).toLong,
                      lc.bins.map(_.length.toLong).sum,
                      sc.defs.count(_ == 0).toLong,
                      sc.longs.sum, mn, mx))
                  case _ => Nil
                }
              case _ => Nil
            }
          }
        }.toDF("blob_id", "file_md5", "file_bytes_len", "n_rows",
            "id_sum", "txt_len_sum", "n_lang_null", "lang_len_sum",
            "n_score_null", "score_sum", "stat_min_id", "stat_max_id")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('pqwrite2:' || string_agg(d, ',' ORDER BY d))
                   AS bkey,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(d) AS BIGINT) AS id_sum,
                 CAST(sum(length('doc-' || d || '-') + (d % 17))
                   AS BIGINT) AS txt_len_sum,
                 CAST(sum(CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_lang_null,
                 CAST(sum(CASE WHEN d % 7 = 0 THEN 0 ELSE 2 END)
                   AS BIGINT) AS lang_len_sum,
                 CAST(sum(CASE WHEN d % 11 = 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_score_null,
                 CAST(sum(CASE WHEN d % 11 = 3 THEN 0
                   ELSE (d * d) % 997 END) AS BIGINT) AS score_sum,
                 CAST(min(d) AS BIGINT) AS stat_min_id,
                 CAST(max(d) AS BIGINT) AS stat_max_id
          FROM r GROUP BY blob_id)
        SELECT k.blob_id, f.file_md5, f.file_bytes_len, k.n_rows,
               k.id_sum, k.txt_len_sum, k.n_lang_null, k.lang_len_sum,
               k.n_score_null, k.score_sum, k.stat_min_id,
               k.stat_max_id
        FROM k JOIN read_parquet(
          '/root/repo/fixtures/parquet_write2_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q311 — the own ORC writer carries the same corpus schema:
    // DIRECT_V2 strings (LENGTH + DATA streams), IEEE LE doubles, and
    // PRESENT validity streams (Byte-RLE over MSB-first packed bits)
    // for the nullable columns, written from first principles
    // (OrcWrite.writeTable) and decoded back by the engine's OWN
    // nullable readers (stripeColumnLongsOpt / stripeColumnStringsOpt
    // / stripeColumnDoubles). orc-core (spark.read.orc) reads the
    // same bytes in OrcSpec. The snappy-chunked form must GENUINELY
    // beat the uncompressed form (size law) — ratio uses exact
    // quarters so the double sum is order-independent and DuckDB-
    // identical.
    "q311_orc_write_corpus" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.OrcWrite
          val cols = Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.OStringCol("txt", ids.map(d =>
              Some(Blobs.payload(d)))),
            W.OStringCol("lang", ids.map(d =>
              if (d % 7 == 0) None
              else Some(Langs((d % 5).toInt)))),
            W.OLongCol("score", ids.map(d =>
              if (d % 11 == 3) None else Some((d * d) % 997))),
            W.ODoubleCol("ratio", ids.map(d =>
              (d % 40).toDouble / 4.0)))
          val bytes = W.writeTable(cols)
          val snappy = W.writeTable(cols, compression = 2)
          val O = graft.sources.Orc
          O.parseTail(snappy).toSeq.flatMap { t =>
            if (t.typeKinds != Seq(12, 4, 7, 7, 4, 6) ||
              t.compression != O.CompSnappy) Nil
            else {
              val st = t.stripes.head
              (O.stripeColumnLongsOpt(snappy, t, st, 1),
                O.stripeColumnStrings(snappy, t, st, 2),
                O.stripeColumnStringsOpt(snappy, t, st, 3),
                O.stripeColumnLongsOpt(snappy, t, st, 4),
                O.stripeColumnDoubles(snappy, t, st, 5)) match {
                case (Some((v1, l1)), Some(txts), Some((v3, s3)),
                  Some((v4, l4)), Some(d5))
                  if v1.forall(identity) && l1.toSeq == ids =>
                  Seq((blobId, ids.length.toLong, l1.sum,
                    txts.map(_.length.toLong).sum,
                    v3.count(!_).toLong,
                    s3.filter(_ != null).map(_.length.toLong).sum,
                    v4.count(!_).toLong,
                    v4.zip(l4).collect { case (true, x) => x }.sum,
                    d5.sum,
                    if (snappy.length < bytes.length) 1L else 0L))
                case _ => Nil
              }
            }
          }
        }.toDF("blob_id", "n_rows", "id_sum", "txt_len_sum",
            "n_lang_null", "lang_len_sum", "n_score_null", "score_sum",
            "ratio_sum", "compressed_smaller")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(length('doc-' || d || '-') + (d % 17))
                 AS BIGINT) AS txt_len_sum,
               CAST(sum(CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_lang_null,
               CAST(sum(CASE WHEN d % 7 = 0 THEN 0 ELSE 2 END)
                 AS BIGINT) AS lang_len_sum,
               CAST(sum(CASE WHEN d % 11 = 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_score_null,
               CAST(sum(CASE WHEN d % 11 = 3 THEN 0
                 ELSE (d * d) % 997 END) AS BIGINT) AS score_sum,
               sum((d % 40) / 4.0) AS ratio_sum,
               CAST(1 AS BIGINT) AS compressed_smaller
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q312 — a REAL DEFLATE encoder from first principles
    // (sources/Deflate.scala: greedy LZ77 over 3-byte hash chains +
    // one fixed-Huffman block, RFC 1951 write side), wrapped in the
    // engine's own gzip member framing. The bytes are md5-pinned
    // against an independent Python twin that reimplements the same
    // deterministic algorithm AND decodes them with CPython zlib
    // (scripts/make_deflate_own_oracle.py); stdlib Inflater /
    // GZIPInputStream decode them byte-exact in DeflateSpec; and here
    // the engine's own member walk decodes its own member back to
    // relational truth, with the size law a stored-block fallback
    // fails (compressed < half of plaintext on this corpus). The same
    // encoder carries parquet codec=2: the engine's own gzip pages
    // round-trip through its own reader, also smaller than stored.
    "q312_deflate_own_encoder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d =>
            Blobs.payload(d) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val m = graft.sources.Gzip.writeMemberOwn(data)
          val gzMd5 = md5Hex(m)
          // decode-own-write: the member walk must reproduce the
          // payload exactly (CRC verified inside)
          val ms = graft.sources.Gzip.members(m)
          // parquet codec=2 through the same encoder, own-read back
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val fields = Seq(W.Leaf("rec_id", 0, 2))
          val ld = Seq(W.LeafData(Array.fill(ids.length)(0), null,
            longs = ids.toArray))
          val pgz = W.writeFile(fields, ld, codec = 2)
          val pplain = W.writeFile(fields, ld, codec = 0)
          val pqOk = P.columnLongs(pgz, "rec_id")
            .exists(_.toSeq == ids)
          if (ms.length == 1 && ms.head.crc_ok &&
            java.util.Arrays.equals(ms.head.data, data) && pqOk)
            Seq((blobId, gzMd5, m.length.toLong,
              ms.head.data.length.toLong,
              hash60Bytes(new String(ms.head.data, "UTF-8").getBytes("UTF-8")),
              if (m.length.toLong * 2 < data.length) 1L else 0L,
              if (pgz.length < pplain.length) 1L else 0L))
          else Nil
        }.toDF("blob_id", "gz_md5", "gz_len", "orig_len",
            "payload_hash", "beats_half", "pq_gz_smaller")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('deflate:' || string_agg(d, ',' ORDER BY d))
                   AS bkey,
                 string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(sum(length('doc-' || d || '-') + (d % 17) + 1)
                   AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT k.blob_id, f.gz_md5, f.gz_len, k.orig_len,
               ${OracleSql.sqlHash60("k.payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS beats_half,
               CAST(1 AS BIGINT) AS pq_gz_smaller
        FROM k JOIN read_parquet(
          '/root/repo/fixtures/deflate_own_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q313 — write-side PAGE INDEX + BLOOM: the engine's writer now
    // emits the PARQUET-922 ColumnIndex/OffsetIndex pair and a
    // PARQUET-41 split-block bloom (own XXH64), and the engine's own
    // q263/q269 read machinery probes files IT wrote — the q308
    // zero-foreign-code write→stats→skip loop one level finer. Each
    // present probe decodes EXACTLY ONE index-selected page; absent
    // probes are rejected by the bloom or by page bounds with zero
    // pages decoded; a forged OffsetIndex entry fails closed
    // (readPageCells None, never a wrong answer). The whole layout —
    // multi-page chunks, both index structures, bloom header+bitset —
    // is md5-pinned against an independent Python twin
    // (scripts/make_parquet_pageindex_write_oracle.py) which also
    // re-reads the bytes with pyarrow/DuckDB and recomputes the
    // bloom's absent-probe rejections independently.
    "q313_parquet_write_pageindex_bloom" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, sortedIds) =>
          val ids = sortedIds.toArray
          val n = ids.length
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val fields = Seq(W.Leaf("rec_id", 0, 2),
            W.Leaf("val", 0, 2))
          val data = Seq(
            W.LeafData(Array.fill(n)(0), null, longs = ids),
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.map(d => (d * 17) % 1009)))
          val pr = math.max(1, n / 8)
          val bytes = W.writeFile(fields, data, withStats = true,
            pageRows = pr, withIndex = true, bloomCols = Set(0))
          val fileMd5 = md5Hex(bytes)
          val res = for {
            fm <- P.parseFooter(bytes)
            idCol <- fm.rowGroups.head.cols.find(_.path == "rec_id")
            valCol <- fm.rowGroups.head.cols.find(_.path == "val")
            oi <- P.parseOffsetIndex(bytes, idCol)
            oiV <- P.parseOffsetIndex(bytes, valCol)
            ci <- P.parseColumnIndex(bytes, idCol)
            bloom <- P.parseBloomFilter(bytes, idCol)
            if ci.nullPages.length == oi.length
          } yield {
            val probePos = Seq(0, (n - 1) / 4, (n - 1) / 2,
              3 * (n - 1) / 4, n - 1).distinct
            var foundSum = 0L
            var pagesDecoded = 0L
            var ok = true
            probePos.foreach { pos =>
              val probe = ids(pos)
              if (!bloom.mightContainLong(probe)) ok = false
              else {
                // index-selected pages ONLY: [min,max] containment
                val sel = oi.indices.filter { i =>
                  !ci.nullPages(i) &&
                  ci.minLong(i).exists(_ <= probe) &&
                  ci.maxLong(i).exists(_ >= probe)
                }
                pagesDecoded += sel.length
                var hit = false
                sel.foreach { i =>
                  P.readPageCells(bytes, oi(i), idCol) match {
                    case Some(cells) =>
                      val at = cells.longs.indexOf(probe)
                      if (at >= 0) {
                        // the matching val page row: same page index
                        // (both chunks split on the same records)
                        P.readPageCells(bytes, oiV(i), valCol)
                          .foreach { vc =>
                            foundSum += vc.longs(at); hit = true
                          }
                      }
                    case None => ok = false
                  }
                }
                if (!hit) ok = false
              }
            }
            // absent probes: bloom-negative or zero pages selected
            val mx = ids.last
            var bloomNeg = 0L
            var absentPages = 0L
            (1L to 20L).foreach { k =>
              val probe = mx + k
              if (!bloom.mightContainLong(probe)) bloomNeg += 1
              else absentPages += oi.indices.count { i =>
                !ci.nullPages(i) &&
                ci.minLong(i).exists(_ <= probe) &&
                ci.maxLong(i).exists(_ >= probe)
              }
            }
            // forged index entry must fail closed
            val forged = oi.head.copy(offset = oi.head.offset + 1)
            val forgedFail =
              if (P.readPageCells(bytes, forged, idCol).isEmpty) 1L
              else 0L
            if (!ok) Nil
            else Seq((blobId, fileMd5, bytes.length.toLong,
              oi.length.toLong, probePos.length.toLong, foundSum,
              pagesDecoded, bloomNeg, absentPages, forgedFail))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "file_md5", "file_bytes_len", "n_pages",
            "n_probes", "found_sum", "pages_decoded", "n_bloom_neg",
            "absent_pages", "forged_fail")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        o AS (
          SELECT blob_id, d,
                 row_number() OVER (PARTITION BY blob_id ORDER BY d)
                   - 1 AS pos,
                 count(*) OVER (PARTITION BY blob_id) AS n
          FROM r),
        k AS (
          SELECT blob_id,
                 md5('pqidx:' || string_agg(d, ',' ORDER BY d)) AS bkey
          FROM o GROUP BY blob_id),
        pp AS (
          SELECT blob_id, pos, d, n FROM o
          WHERE pos IN (0, (n-1)//4, (n-1)//2, 3*(n-1)//4, n-1)),
        agg AS (
          SELECT blob_id,
                 CAST(max(n) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_probes,
                 CAST(sum((d * 17) % 1009) AS BIGINT) AS found_sum
          FROM pp GROUP BY blob_id)
        SELECT a.blob_id, f.file_md5, f.file_bytes_len,
               CAST(ceil(a.n * 1.0 /
                 greatest(1, a.n // 8)) AS BIGINT) AS n_pages,
               a.n_probes, a.found_sum,
               a.n_probes AS pages_decoded,
               f.n_bloom_neg,
               CAST(0 AS BIGINT) AS absent_pages,
               CAST(1 AS BIGINT) AS forged_fail
        FROM agg a JOIN k ON a.blob_id = k.blob_id
        JOIN read_parquet(
          '/root/repo/fixtures/parquet_pageindex_write_oracle.parquet')
          f ON k.bkey = f.blob_key"""),
      headline = false),

    // q314 — the engine WRITES the Delta CHECKPOINT: DeltaWrite.
    // writeCheckpoint serializes action rows as
    // `<v>.checkpoint.parquet` through the own nested parquet writer
    // (OPTIONAL action groups, v1 def levels, add.partitionValues as
    // the 3-level MAP layout) + `_last_checkpoint`, then the table's
    // pre-checkpoint JSON is VACUUMED and the engine's own q261
    // replay machinery answers from its own checkpoint: DeltaCheckpoint
    // .parse (own byte reader) -> JSON tail via the own Json parser ->
    // last-wins live view -> own parquet reader over the live data
    // files. C's partition value survives ONLY in the checkpoint's
    // map column (part_sum breaks if the write-side striping is
    // wrong), and a JSON-only replay misses C (json_only_misses).
    // Bytes md5-pinned by an independent Python twin
    // (scripts/make_delta_ckpt_write_oracle.py) that re-reads the
    // checkpoint with pyarrow; parquet-mr cross-reads it in
    // CheckpointSpec.
    "q314_delta_checkpoint_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val bkey = Blobs.key("deltackptw:", ids)
          val D = graft.sources.DeltaWrite
          val J = graft.sources.Json
          val P = graft.sources.Parquet
          val bundle = D.writeTableWithCheckpoint(bkey, ids)
          val ckpt =
            bundle("_delta_log/00000000000000000001.checkpoint.parquet")
          val ckptMd5 = md5Hex(ckpt)
          def jstr(o: J.JObject, k: String): Option[String] =
            o.get(k).collect { case J.JString(x) => x }
          val res = for {
            lc <- J.parse(new String(
              bundle("_delta_log/_last_checkpoint"), "UTF-8").trim)
            ver <- lc match {
              case o: J.JObject =>
                o.get("version").collect { case J.JLong(v) => v }
              case _ => None
            }
            acts <- graft.sources.DeltaCheckpoint.parse(ckpt)
          } yield {
            // path -> (version, isAdd, part); checkpoint state first
            val st = scala.collection.mutable.LinkedHashMap
              .empty[String, (Long, Boolean, String)]
            acts.foreach { a =>
              if (a.addPath != null)
                st(a.addPath) =
                  (ver, true, a.addParts.getOrElse("part", null))
              else if (a.removePath != null)
                st(a.removePath) = (ver, false, null)
            }
            // surviving JSON tail strictly after the checkpoint,
            // through the engine's own JSON parser
            val LogName = "_delta_log/(\\d{20})\\.json".r
            val tail = bundle.keys.toSeq.collect {
              case k @ LogName(v) if v.toLong > ver => (v.toLong, k)
            }.sortBy(_._1)
            val jsonLive = scala.collection.mutable.Set.empty[String]
            var ok = true
            tail.foreach { case (v, k) =>
              new String(bundle(k), "UTF-8").split("\n")
                .filter(_.trim.nonEmpty).foreach { line =>
                  J.parse(line) match {
                    case Some(o: J.JObject) =>
                      (o.get("add"), o.get("remove")) match {
                        case (Some(a: J.JObject), _) =>
                          jstr(a, "path") match {
                            case Some(p) =>
                              val part = a.get("partitionValues")
                                .collect { case pv: J.JObject => pv }
                                .flatMap(jstr(_, "part")).orNull
                              st(p) = (v, true, part)
                              jsonLive += p
                            case None => ok = false
                          }
                        case (_, Some(r: J.JObject)) =>
                          jstr(r, "path") match {
                            case Some(p) =>
                              st(p) = (v, false, null)
                              jsonLive -= p
                            case None => ok = false
                          }
                        case _ => ()
                      }
                    case _ => ok = false
                  }
                }
            }
            val live = st.toSeq.collect {
              case (p, (_, true, part)) => (p, part)
            }.sortBy(_._1)
            val misses =
              live.map(_._1).count(p => !jsonLive.contains(p))
            var nRows = 0L; var idSum = 0L
            var valSum = 0L; var partSum = 0L
            live.foreach { case (p, part) =>
              if (part == null) ok = false
              else {
                partSum += part.toLong
                (P.columnLongs(bundle(p), "rec_id"),
                  P.columnLongs(bundle(p), "val")) match {
                  case (Some(rs), Some(vs)) if rs.length == vs.length =>
                    nRows += rs.length
                    idSum += rs.sum
                    valSum += vs.sum
                  case _ => ok = false
                }
              }
            }
            if (!ok) Nil
            else Seq((blobId, ckptMd5, ckpt.length.toLong,
              acts.length.toLong, live.length.toLong, nRows, idSum,
              valSum, partSum, misses.toLong))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "ckpt_md5", "ckpt_len", "n_ckpt_acts",
            "n_live", "n_rows", "id_sum", "val_sum", "part_sum",
            "json_only_misses")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('deltackptw:' || string_agg(d, ',' ORDER BY d))
                   AS bkey
          FROM r GROUP BY blob_id),
        agg AS (
          SELECT blob_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(d) AS BIGINT) AS id_sum,
                 CAST(sum((d * 13) % 991) AS BIGINT) AS val_sum
          FROM r WHERE (d // 6) % 4 IN (2, 3) GROUP BY blob_id)
        SELECT a.blob_id, f.ckpt_md5, f.ckpt_len,
               CAST(5 AS BIGINT) AS n_ckpt_acts,
               CAST(2 AS BIGINT) AS n_live,
               a.n_rows, a.id_sum, a.val_sum,
               CAST(5 AS BIGINT) AS part_sum,
               CAST(1 AS BIGINT) AS json_only_misses
        FROM agg a JOIN k ON a.blob_id = k.blob_id
        JOIN read_parquet(
          '/root/repo/fixtures/delta_ckpt_write_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q316 — a REAL zstd COMPRESSOR from first principles
    // (sources/ZstdEncode.scala: greedy LZ77 -> zstd sequences,
    // FSE-coded under RFC 8878's PREDEFINED distributions with the
    // backward bitstream written as the exact mirror of the engine's
    // own pinned decoder; raw literals; per-block raw fallback).
    // Three independent laws close the loop per blob: the engine's
    // OWN decoder (Zstd.walk — itself pinned against libzstd frames)
    // round-trips the bytes to the relational payload hash under the
    // frame's XXH64 checksum; libzstd ITSELF (zstd-jni, the reference
    // implementation on Spark's classpath) decodes the same bytes
    // byte-exact in-query (jni_ok); and the size laws — compressed
    // beats the raw-block stored frame AND beats half the plaintext —
    // fail any stored-block or miscoded fallback.
    "q316_zstd_own_encoder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d =>
            Blobs.payload(d) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val Z = graft.sources.Zstd
          val z = graft.sources.ZstdEncode.compress(data)
          val stored = Z.frameStored(data)
          val ownOk = Z.walk(z) match {
            case Some(Seq(f)) => f.kind == "zstd" &&
              f.checksumState == "ok" &&
              java.util.Arrays.equals(f.decoded, data)
            case _ => false
          }
          val jniOk = scala.util.Try(
            com.github.luben.zstd.Zstd.decompress(z,
              math.max(1, data.length))).toOption
            .exists(java.util.Arrays.equals(_, data))
          if (!ownOk) Nil
          else Seq((blobId, data.length.toLong, hash60Bytes(data),
            ((data.length + 65535) / 65536).toLong,
            if (z.length * 2 < data.length) 1L else 0L,
            if (z.length < stored.length) 1L else 0L,
            if (jniOk) 1L else 0L))
        }.toDF("blob_id", "orig_len", "payload_hash", "n_blocks",
            "beats_half", "beats_stored", "jni_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(sum(length('doc-' || d || '-') + (d % 17) + 1)
                   AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST((orig_len + 65535) // 65536 AS BIGINT) AS n_blocks,
               CAST(1 AS BIGINT) AS beats_half,
               CAST(1 AS BIGINT) AS beats_stored,
               CAST(1 AS BIGINT) AS jni_ok
        FROM k"""),
      headline = false),

    // q320 — HUFFMAN LITERALS in the own zstd compressor (RFC §4.2
    // write side): package-merge length-limited code construction
    // (limit 11), the direct 4-bit-weights tree description with the
    // implied last weight, the decoder's exact canonical table fill
    // inverted into per-symbol codes, and 1-/4-stream backward
    // bitstreams. The corpus here is MATCH-POOR by construction
    // (md5 hex lines — random 16-symbol text): LZ77 alone cannot
    // compress it, so the huff_wins law (z*3 < orig*2, i.e. ratio
    // under 2/3 where raw-literal zstd gives ~1.0) is evidence the
    // Huffman path itself carries the win. Every block must arrive
    // as a Compressed_Block (n_comp_blocks), the engine's own
    // decoder round-trips under the frame checksum, and libzstd
    // (zstd-jni) decodes the same bytes byte-exact in-query.
    "q320_zstd_huffman_literals" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d => md5Hex("h:" + d) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val z = graft.sources.ZstdEncode.compress(data)
          val frame = graft.sources.Zstd.walk(z) match {
            case Some(Seq(f)) if f.kind == "zstd" &&
              f.checksumState == "ok" &&
              java.util.Arrays.equals(f.decoded, data) => Some(f)
            case _ => None
          }
          val jniOk = scala.util.Try(
            com.github.luben.zstd.Zstd.decompress(z,
              math.max(1, data.length))).toOption
            .exists(java.util.Arrays.equals(_, data))
          frame match {
            case Some(f) =>
              Seq((blobId, data.length.toLong, hash60Bytes(data),
                f.compBlocks.toLong,
                if (z.length.toLong * 3 < data.length.toLong * 2) 1L
                else 0L,
                if (jniOk) 1L else 0L))
            case None => Nil
          }
        }.toDF("blob_id", "orig_len", "payload_hash",
            "n_comp_blocks", "huff_wins", "jni_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg(md5('h:' || d) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(33 * count(*) AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST((orig_len + 65535) // 65536 AS BIGINT)
                 AS n_comp_blocks,
               CAST(1 AS BIGINT) AS huff_wins,
               CAST(1 AS BIGINT) AS jni_ok
        FROM k"""),
      headline = false),

    // q321 — DATA_PAGE_V2 write side: the engine's writer emits v2
    // data pages (levels OUTSIDE the codec with declared RLE byte
    // lengths — no LE32 prefixes; num_nulls/num_rows in the header),
    // multi-page, on the q310 corpus schema incl. the dictionary
    // chunk. The engine's own v2 READ path (proven against
    // parquet-mr's v2 writer in r11) decodes every output number
    // here; the layout is md5-pinned against an independent Python
    // twin (scripts/make_parquet_v2_write_oracle.py) whose bytes
    // pyarrow+DuckDB re-read; parquet-mr cross-reads the engine's v2
    // file in ParquetSpec. A second in-query law: the SAME data
    // written v2+snappy (own compressor, values-only — the levels
    // must stay readable outside the codec) decodes identically and
    // is genuinely smaller.
    "q321_parquet_write_pagev2" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, sortedIds) =>
          val ids = sortedIds.toArray
          val n = ids.length
          val W = graft.sources.ParquetWrite
          def utf8(x: String) = x.getBytes("UTF-8")
          val txts = ids.map(d => utf8(Blobs.payload(d)))
          val langDefs = ids.map(d => if (d % 7 == 0) 0 else 1)
          val langs = ids.filter(_ % 7 != 0)
            .map(d => utf8(Langs((d % 5).toInt)))
          val scoreDefs = ids.map(d => if (d % 11 == 3) 0 else 1)
          val scores = ids.filter(_ % 11 != 3).map(d => (d * d) % 997)
          val fields = Seq(
            W.Leaf("rec_id", 0, 2),
            W.Leaf("txt", 0, 6, convertedType = 0),
            W.Leaf("lang", 1, 6, convertedType = 0),
            W.Leaf("score", 1, 2))
          val data = Seq(
            W.LeafData(Array.fill(n)(0), null, longs = ids),
            W.LeafData(Array.fill(n)(0), null, bins = txts),
            W.LeafData(langDefs, null, bins = langs, dict = true),
            W.LeafData(scoreDefs, null, longs = scores))
          val pr = math.max(1, n / 4)
          val bytes = W.writeFile(fields, data, withStats = true,
            pageRows = pr, pageV2 = true)
          val snappy = W.writeFile(fields, data, codec = 1,
            withStats = true, pageRows = pr, pageV2 = true)
          val fileMd5 = md5Hex(bytes)
          val P = graft.sources.Parquet
          def decode(b: Array[Byte]) =
            P.parseFooter(b).flatMap { fm =>
              def cells(path: String) = {
                val (d, r) = fm.leafLevels(path)
                fm.rowGroups.head.cols.find(_.path == path)
                  .flatMap(c => P.readChunkCells(b, c, d, r))
              }
              (cells("rec_id"), cells("txt"), cells("lang"),
                cells("score")) match {
                case (Some(rc), Some(tc), Some(lc), Some(sc))
                  if rc.longs.toSeq == ids.toSeq =>
                  Some((rc.longs.length.toLong, rc.longs.sum,
                    tc.bins.map(_.length.toLong).sum,
                    lc.defs.count(_ == 0).toLong,
                    lc.bins.map(_.length.toLong).sum,
                    sc.defs.count(_ == 0).toLong, sc.longs.sum))
                case _ => None
              }
            }
          (decode(bytes), decode(snappy)) match {
            case (Some(t1), Some(t2)) if t1 == t2 =>
              Seq((blobId, fileMd5, bytes.length.toLong,
                t1._1, t1._2, t1._3, t1._4, t1._5, t1._6, t1._7,
                if (snappy.length < bytes.length) 1L else 0L))
            case _ => Nil
          }
        }.toDF("blob_id", "file_md5", "file_bytes_len", "n_rows",
            "id_sum", "txt_len_sum", "n_lang_null", "lang_len_sum",
            "n_score_null", "score_sum", "snappy_smaller")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('pqv2w:' || string_agg(d, ',' ORDER BY d))
                   AS bkey,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(d) AS BIGINT) AS id_sum,
                 CAST(sum(length('doc-' || d || '-') + (d % 17))
                   AS BIGINT) AS txt_len_sum,
                 CAST(sum(CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_lang_null,
                 CAST(sum(CASE WHEN d % 7 = 0 THEN 0 ELSE 2 END)
                   AS BIGINT) AS lang_len_sum,
                 CAST(sum(CASE WHEN d % 11 = 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_score_null,
                 CAST(sum(CASE WHEN d % 11 = 3 THEN 0
                   ELSE (d * d) % 997 END) AS BIGINT) AS score_sum
          FROM r GROUP BY blob_id)
        SELECT k.blob_id, f.file_md5, f.file_bytes_len, k.n_rows,
               k.id_sum, k.txt_len_sum, k.n_lang_null, k.lang_len_sum,
               k.n_score_null, k.score_sum,
               CAST(1 AS BIGINT) AS snappy_smaller
        FROM k JOIN read_parquet(
          '/root/repo/fixtures/parquet_v2_write_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q322 — ORC DICTIONARY_V2 write side: the own ORC writer gains
    // dictionary-encoded string columns (SORTED dictionary in
    // unsigned byte order described by LENGTH + DICTIONARY_DATA
    // streams, DATA = unsigned RLEv2 indices, ColumnEncoding kind 3
    // with dictionarySize) — the write twin of the q274 read path.
    // Laws: the engine's own dict decode returns the exact values
    // (non-null fast path AND the nullable PRESENT path), the stripe
    // footer genuinely claims DICTIONARY (n_dict_encodings — a writer
    // silently falling back to DIRECT fails), the dict form is
    // GENUINELY smaller than the DIRECT_V2 form on this repetitive
    // column (dict_beats_direct), and orc-core reads the same bytes
    // in OrcSpec.
    "q322_orc_write_dictionary" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.OrcWrite
          val O = graft.sources.Orc
          def cat(d: Long) = "cat-" + (d % 7)
          val colsDict = Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.ODictStringCol("cat", ids.map(d => Some(cat(d)))),
            W.ODictStringCol("lang", ids.map(d =>
              if (d % 7 == 0) None
              else Some(Langs((d % 5).toInt)))))
          val colsDirect = Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.OStringCol("cat", ids.map(d => Some(cat(d)))),
            W.OStringCol("lang", ids.map(d =>
              if (d % 7 == 0) None
              else Some(Langs((d % 5).toInt)))))
          val bytes = W.writeTable(colsDict)
          val direct = W.writeTable(colsDirect)
          val res = for {
            t <- O.parseTail(bytes)
            if t.typeKinds == Seq(12, 4, 7, 7)
            st = t.stripes.head
            sf <- O.parseStripeFooter(bytes, t, st)
            (v1, l1) <- O.stripeColumnLongsOpt(bytes, t, st, 1)
            if v1.forall(identity) && l1.toSeq == ids
            cats <- O.stripeColumnStrings(bytes, t, st, 2)
            if cats.toSeq == ids.map(cat)
            (v3, s3) <- O.stripeColumnStringsOpt(bytes, t, st, 3)
          } yield {
            val nDict = sf.encodings.count(_._1 == 3)
            val langsOk = v3.zip(s3).zip(ids).forall {
              case ((valid, v), d) =>
                if (d % 7 == 0) !valid
                else valid && v == Langs((d % 5).toInt)
            }
            if (!langsOk) Nil
            else Seq((blobId, ids.length.toLong,
              cats.map(_.length.toLong).sum,
              v3.count(!_).toLong,
              s3.filter(_ != null).map(_.length.toLong).sum,
              nDict.toLong,
              if (bytes.length < direct.length) 1L else 0L))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "n_rows", "cat_len_sum", "n_lang_null",
            "lang_len_sum", "n_dict_encodings", "dict_beats_direct")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(length('cat-' || (d % 7)))
                 AS BIGINT) AS cat_len_sum,
               CAST(sum(CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_lang_null,
               CAST(sum(CASE WHEN d % 7 = 0 THEN 0 ELSE 2 END)
                 AS BIGINT) AS lang_len_sum,
               CAST(2 AS BIGINT) AS n_dict_encodings,
               CAST(1 AS BIGINT) AS dict_beats_direct
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q323 — MULTI-PART checkpoint WRITE: the engine splits its own
    // checkpoint across `<v>.checkpoint.<part>.<parts>.parquet` files
    // (PROTOCOL.md naming, 10-digit indices) with `_last_checkpoint`
    // claiming `"parts": 2`, pre-checkpoint JSON fully vacuumed —
    // then replays its own output with the q272 read machinery: the
    // part set assembled (every index 1..N exactly once, the
    // single-file name ABSENT so a single-name reader finds nothing),
    // actions unioned, the JSON tail applied, live files decoded by
    // the own parquet reader. Part bytes md5-pinned vs the Python
    // twin (scripts/make_delta_ckptm_write_oracle.py).
    "q323_delta_multipart_checkpoint_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val bkey = Blobs.key("deltackptmw:", ids)
          val D = graft.sources.DeltaWrite
          val J = graft.sources.Json
          val P = graft.sources.Parquet
          val bundle = D.writeTableWithMultipartCheckpoint(bkey, ids)
          val PartRe =
            "_delta_log/(\\d+)\\.checkpoint\\.(\\d+)\\.(\\d+)\\.parquet".r
          def jlong(o: J.JObject, k: String): Option[Long] =
            o.get(k).collect { case J.JLong(v) => v }
          val res = for {
            lc <- J.parse(new String(
              bundle("_delta_log/_last_checkpoint"), "UTF-8").trim)
            lco <- Some(lc).collect { case o: J.JObject => o }
            ver <- jlong(lco, "version")
            nParts <- jlong(lco, "parts").filter(p => p > 0 && p <= 64)
          } yield {
            var ok = true
            // single-name reader law: the unsplit name must be gone
            val singleName = f"_delta_log/$ver%020d.checkpoint.parquet"
            if (bundle.contains(singleName)) ok = false
            val parts = bundle.keys.toSeq.flatMap { k =>
              k match {
                case PartRe(v, i, n) =>
                  if (v.toLong != ver || n.toLong != nParts) ok = false
                  Seq((i.toInt, bundle(k)))
                case _ => Nil
              }
            }.sortBy(_._1)
            if (parts.map(_._1) != (1 to nParts.toInt)) ok = false
            val acts = parts.flatMap { case (_, b) =>
              graft.sources.DeltaCheckpoint.parse(b) match {
                case Some(a) => a
                case None => ok = false; Nil
              }
            }
            val metaOk = acts.exists(_.metaId == bkey)
            // checkpoint state + JSON tail, last-wins (q314's walk)
            val st = scala.collection.mutable.LinkedHashMap
              .empty[String, (Long, Boolean, String)]
            acts.foreach { a =>
              if (a.addPath != null)
                st(a.addPath) =
                  (ver, true, a.addParts.getOrElse("part", null))
              else if (a.removePath != null)
                st(a.removePath) = (ver, false, null)
            }
            val LogName = "_delta_log/(\\d{20})\\.json".r
            bundle.keys.toSeq.collect {
              case k @ LogName(v) if v.toLong > ver => (v.toLong, k)
            }.sortBy(_._1).foreach { case (v, k) =>
              new String(bundle(k), "UTF-8").split("\n")
                .filter(_.trim.nonEmpty).foreach { line =>
                  J.parse(line) match {
                    case Some(o: J.JObject) =>
                      (o.get("add"), o.get("remove")) match {
                        case (Some(a: J.JObject), _) =>
                          (a.get("path"), a.get("partitionValues"))
                            match {
                            case (Some(J.JString(p)),
                              Some(pv: J.JObject)) =>
                              st(p) = (v, true, pv.get("part")
                                .collect {
                                  case J.JString(x) => x
                                }.orNull)
                            case _ => ok = false
                          }
                        case (_, Some(r: J.JObject)) =>
                          r.get("path") match {
                            case Some(J.JString(p)) =>
                              st(p) = (v, false, null)
                            case _ => ok = false
                          }
                        case _ => ()
                      }
                    case _ => ok = false
                  }
                }
            }
            val live = st.toSeq.collect {
              case (p, (_, true, part)) => (p, part)
            }.sortBy(_._1)
            var nRows = 0L; var idSum = 0L
            var valSum = 0L; var partSum = 0L
            live.foreach { case (p, part) =>
              if (part == null) ok = false
              else {
                partSum += part.toLong
                (P.columnLongs(bundle(p), "rec_id"),
                  P.columnLongs(bundle(p), "val")) match {
                  case (Some(rs), Some(vs))
                    if rs.length == vs.length =>
                    nRows += rs.length; idSum += rs.sum
                    valSum += vs.sum
                  case _ => ok = false
                }
              }
            }
            if (!ok || !metaOk) Nil
            else Seq((blobId, md5Hex(parts(0)._2), md5Hex(parts(1)._2),
              nParts, acts.length.toLong, live.length.toLong, nRows,
              idSum, valSum, partSum))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "part1_md5", "part2_md5", "n_parts",
            "n_ckpt_acts", "n_live", "n_rows", "id_sum", "val_sum",
            "part_sum")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('deltackptmw:' || string_agg(d, ',' ORDER BY d))
                   AS bkey
          FROM r GROUP BY blob_id),
        agg AS (
          SELECT blob_id,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(d) AS BIGINT) AS id_sum,
                 CAST(sum((d * 13) % 991) AS BIGINT) AS val_sum
          FROM r WHERE (d // 6) % 4 IN (2, 3) GROUP BY blob_id)
        SELECT a.blob_id, f.part1_md5, f.part2_md5,
               CAST(2 AS BIGINT) AS n_parts,
               CAST(5 AS BIGINT) AS n_ckpt_acts,
               CAST(2 AS BIGINT) AS n_live,
               a.n_rows, a.id_sum, a.val_sum,
               CAST(5 AS BIGINT) AS part_sum
        FROM agg a JOIN k ON a.blob_id = k.blob_id
        JOIN read_parquet(
          '/root/repo/fixtures/delta_ckptm_write_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q324 — CUSTOM FSE TABLES in the own zstd compressor (RFC
    // §4.1.1 write side): per-block code histograms normalized onto
    // a 2^log table (proportional shares, less-than-one -1 states,
    // remainder folded into the dominant symbol), the variable-
    // precision table DESCRIPTION written as the exact mirror of the
    // decoder's phased small/large walk with the zero-repeat escape,
    // and RLE mode for single-code channels — chosen per channel
    // only when the description pays for itself. The law here:
    // adaptive_smaller pins that the custom-table form genuinely
    // beats the predefined-only form on this corpus (observed ~30%
    // on the sequence-heavy doc text), while the own decoder
    // (checksum-verified) and libzstd both decode the adaptive bytes
    // exactly.
    "q324_zstd_custom_fse_tables" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d =>
            Blobs.payload(d) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val E = graft.sources.ZstdEncode
          val z = E.compress(data)
          val zPred = E.compress(data, adaptiveTables = false)
          val ownOk = graft.sources.Zstd.walk(z) match {
            case Some(Seq(f)) => f.kind == "zstd" &&
              f.checksumState == "ok" &&
              java.util.Arrays.equals(f.decoded, data)
            case _ => false
          }
          val jniOk = scala.util.Try(
            com.github.luben.zstd.Zstd.decompress(z,
              math.max(1, data.length))).toOption
            .exists(java.util.Arrays.equals(_, data))
          if (!ownOk) Nil
          else Seq((blobId, data.length.toLong, hash60Bytes(data),
            if (z.length < zPred.length) 1L else 0L,
            if (z.length * 3 < data.length) 1L else 0L,
            if (jniOk) 1L else 0L))
        }.toDF("blob_id", "orig_len", "payload_hash",
            "adaptive_smaller", "beats_third", "jni_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(sum(length('doc-' || d || '-') + (d % 17) + 1)
                   AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS adaptive_smaller,
               CAST(1 AS BIGINT) AS beats_third,
               CAST(1 AS BIGINT) AS jni_ok
        FROM k"""),
      headline = false),

    // q325 — LZ4 write side (lz4_Block_format.md): the own block
    // compressor (greedy hash-chain LZ77 into token/literals/LE16-
    // offset sequences with the format's end restrictions), the
    // Hadoop BE32 length-pair framing (parquet legacy codec 5), and
    // parquet codec 7 (LZ4_RAW) pages through it. Laws per blob: the
    // engine's own block decoder round-trips to the relational
    // payload hash; lz4-java (the reference implementation) decodes
    // the same bytes byte-exact in-query; the framed form round-trips
    // through the own framed reader; parquet codec-7 pages round-trip
    // through the own parquet reader and are genuinely smaller than
    // stored. The codec-family write inventory now reads: DEFLATE,
    // snappy, zstd, LZ4 — every family the engine decodes that has a
    // write side worth owning.
    "q325_lz4_own_encoder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d =>
            Blobs.payload(d) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val E = graft.sources.Lz4Encode
          val L = graft.sources.Lz4
          val z = E.compressBlock(data)
          val ownOk = L.decompressBlock(z, 0, z.length, data.length)
            .exists(java.util.Arrays.equals(_, data))
          val jniOk = scala.util.Try {
            val out = new Array[Byte](data.length)
            net.jpountz.lz4.LZ4Factory.fastestJavaInstance()
              .safeDecompressor().decompress(z, 0, z.length, out, 0)
            out
          }.toOption.exists(java.util.Arrays.equals(_, data))
          val framed = E.hadoopFrame(data)
          val framedOk = L.decompressFramed(framed, 0, framed.length,
            data.length).exists(java.util.Arrays.equals(_, data))
          // parquet LZ4_RAW pages through the same encoder
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val fields = Seq(W.Leaf("rec_id", 0, 2),
            W.Leaf("txt", 0, 6, convertedType = 0))
          val ld = Seq(
            W.LeafData(Array.fill(ids.length)(0), null,
              longs = ids.toArray),
            W.LeafData(Array.fill(ids.length)(0), null,
              bins = ids.map(Blobs.payload(_).getBytes("UTF-8")).toArray))
          val plz4 = W.writeFile(fields, ld, codec = 7)
          val pplain = W.writeFile(fields, ld, codec = 0)
          val pqOk = P.columnLongs(plz4, "rec_id")
            .exists(_.toSeq == ids) &&
            P.columnStrings(plz4, "txt").exists(_.length == ids.length)
          if (!ownOk) Nil
          else Seq((blobId, data.length.toLong, hash60Bytes(data),
            if (z.length * 2 < data.length) 1L else 0L,
            if (jniOk) 1L else 0L,
            if (framedOk) 1L else 0L,
            if (pqOk) 1L else 0L,
            if (plz4.length < pplain.length) 1L else 0L))
        }.toDF("blob_id", "orig_len", "payload_hash", "beats_half",
            "jni_ok", "framed_ok", "pq_lz4_ok", "pq_lz4_smaller")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(sum(length('doc-' || d || '-') + (d % 17) + 1)
                   AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS beats_half,
               CAST(1 AS BIGINT) AS jni_ok,
               CAST(1 AS BIGINT) AS framed_ok,
               CAST(1 AS BIGINT) AS pq_lz4_ok,
               CAST(1 AS BIGINT) AS pq_lz4_smaller
        FROM k"""),
      headline = false),

    // q326 — the CONTAINER x OWN-CODEC matrix closed: every
    // compression family the engine decodes inside a container is
    // now WRITTEN by its own encoder inside that container. ORC
    // chunk framing carries own-DEFLATE (zlib, codec 1), own-LZ4
    // (codec 4), and own-ZSTD (codec 5) alongside the existing
    // own-snappy; parquet pages carry codec 6 (one own zstd frame
    // per page); the Avro object container carries codec "deflate"
    // through the own encoder. Per blob, EVERY variant must (a)
    // round-trip through the engine's own readers to the same
    // relational sums and (b) be GENUINELY smaller than its stored
    // form — a stored-fallback or misframed chunk anywhere drops
    // n_codecs_ok below 5 and fails the oracle.
    "q326_container_codec_matrix" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val OW = graft.sources.OrcWrite
          val O = graft.sources.Orc
          val cols = Seq(
            OW.OLongCol("rec_id", ids.map(Some(_))),
            OW.OStringCol("txt", ids.map(d =>
              Some(Blobs.payload(d)))))
          val orcPlain = OW.writeTable(cols)
          def orcOk(codec: Int): Boolean = {
            val b = OW.writeTable(cols, compression = codec)
            b.length < orcPlain.length && (O.parseTail(b) match {
              case Some(t) =>
                val st = t.stripes.head
                (O.stripeColumnLongs(b, t, st, 1),
                  O.stripeColumnStrings(b, t, st, 2)) match {
                  case (Some(l1), Some(t2)) =>
                    l1.toSeq == ids &&
                      t2.map(_.length.toLong).sum == ids.map(d =>
                        ("doc-" + d + "-").length + d % 17).sum
                  case _ => false
                }
              case None => false
            })
          }
          // parquet codec 6: one own zstd frame per page
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val fields = Seq(W.Leaf("rec_id", 0, 2),
            W.Leaf("txt", 0, 6, convertedType = 0))
          val ld = Seq(
            W.LeafData(Array.fill(ids.length)(0), null,
              longs = ids.toArray),
            W.LeafData(Array.fill(ids.length)(0), null,
              bins = ids.map(Blobs.payload(_).getBytes("UTF-8")).toArray))
          val pqZstd = W.writeFile(fields, ld, codec = 6)
          val pqPlain = W.writeFile(fields, ld, codec = 0)
          val pqOk = pqZstd.length < pqPlain.length &&
            P.columnLongs(pqZstd, "rec_id").exists(_.toSeq == ids) &&
            P.columnStrings(pqZstd, "txt")
              .exists(_.length == ids.length)
          // avro container, codec deflate through the own encoder
          val AW = graft.sources.AvroWrite
          val G = graft.sources.AvroGeneric
          val schema =
            """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},{"name":"txt","type":"string"}]}"""
          val recs = ids.map(v => G.VRecord(Vector("id" -> G.VLong(v),
            "txt" -> G.VString(Blobs.payload(v)))))
          // one block, the deflate body at the fixed-Huffman level
          def avro(codec: String)(body: Array[Byte] => Array[Byte]) =
            AW.framed(schema, codec, AW.syncMarker(blobId.toString),
              Iterator.single(recs))(body)
          val avroNull = avro("null")(identity)
          val avroDef = avro("deflate")(graft.sources.Deflate.compressFixed)
          val avroOk = avroDef.length < avroNull.length &&
            G.parseContainer(avroDef).exists { d =>
              d.records.flatMap(_.field("id").flatMap(_.asLong)) ==
                ids.toVector &&
              d.records.flatMap(_.field("txt").flatMap(_.asString))
                .map(_.length.toLong).sum == ids.map(d =>
                  ("doc-" + d + "-").length.toLong + d % 17).sum
            }
          val nOk = Seq(orcOk(1), orcOk(4), orcOk(5), pqOk, avroOk)
            .count(identity)
          Seq((blobId, ids.length.toLong, ids.sum, nOk.toLong))
        }.toDF("blob_id", "n_rows", "id_sum", "n_codecs_ok")
      },
      oracle = Some("""
        SELECT doc_id % 6 AS blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(5 AS BIGINT) AS n_codecs_ok
        FROM documents GROUP BY 1"""),
      headline = false),

    // q327 — WARC WRITE side (ISO 28500): the crawl archiver's
    // output, from first principles — record framing (magic, named
    // headers, Content-Length, CRLF trailers) plus the
    // member-per-record `.warc.gz` layout Common Crawl publishes,
    // each member through the engine's OWN gzip/DEFLATE encoder.
    // Laws per blob: the engine's own WARC reader parses the plain
    // form back (types, URIs, content lengths, payload hashes all
    // relational; offsets stride exactly); parseAuto on the gz form
    // yields IDENTICAL records (the split-on-member contract); the
    // own gzip member walk counts exactly one CRC-verified member
    // per record; and the gz form genuinely beats the plain one.
    "q327_warc_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val WW = graft.sources.WarcWrite
          def payload(d: Long) =
            (Blobs.payload(d) + "\n")
              .getBytes("UTF-8")
          val info = WW.record("warcinfo", "", md5Hex("rid:info:" +
            blobId), "2024-01-01T00:00:00Z",
            "software: graft\n".getBytes("UTF-8"))
          val recs = info +: ids.map(d => WW.record("response",
            "https://example.com/doc/" + d, md5Hex("rid:" + d),
            f"2024-01-${d % 28 + 1}%02dT00:00:00Z", payload(d)))
          val warc = WW.write(recs)
          val warcGz = WW.writeGz(recs)
          val parsed = graft.sources.Warc.parse(blobId, warc)
          val viaGz = graft.sources.Warc.parseAuto(blobId, warcGz)
          val members = graft.sources.Gzip.members(warcGz)
          val responses = parsed.filter(_.record_type == "response")
          // offsets must stride exactly: record k+1 starts where
          // record k's framing ends
          var stride = 0L
          var strideOk = true
          parsed.zip(recs).foreach { case (r, bytes) =>
            if (r.offset != stride) strideOk = false
            stride += bytes.length
          }
          val gzOk = viaGz.map(r => (r.record_type, r.target_uri,
            r.content_length, r.payload)) ==
            parsed.map(r => (r.record_type, r.target_uri,
              r.content_length, r.payload))
          if (parsed.length != ids.length + 1 || !strideOk) Nil
          else Seq((blobId, responses.length.toLong,
            hash60Bytes(responses.map(_.payload).mkString.getBytes("UTF-8")),
            responses.map(_.target_uri.length.toLong).sum,
            responses.map(_.content_length).sum,
            if (members.length == recs.length &&
              members.forall(_.crc_ok)) 1L else 0L,
            if (gzOk) 1L else 0L,
            if (warcGz.length < warc.length) 1L else 0L))
        }.toDF("blob_id", "n_responses", "payload_hash",
            "uri_len_sum", "cl_sum", "members_ok", "gz_roundtrip_ok",
            "gz_smaller")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(count(*) AS BIGINT) AS n_responses,
                 CAST(sum(length('https://example.com/doc/' || d))
                   AS BIGINT) AS uri_len_sum,
                 CAST(sum(length('doc-' || d || '-') + (d % 17) + 1)
                   AS BIGINT) AS cl_sum
          FROM r GROUP BY blob_id)
        SELECT blob_id, n_responses,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               uri_len_sum, cl_sum,
               CAST(1 AS BIGINT) AS members_ok,
               CAST(1 AS BIGINT) AS gz_roundtrip_ok,
               CAST(1 AS BIGINT) AS gz_smaller
        FROM k"""),
      headline = false),

    // q328 — CODEC THROUGHPUT headline: each of 32 tasks builds a
    // ~MB-scale replicated shard from its own rows and pushes it
    // through the engine's own zstd (adaptive tables + Huffman
    // literals), LZ4, and snappy ENCODERS, then decodes every byte
    // back through the engine's own DECODERS (zstd under the frame
    // checksum) — the benched cost is the genuine compress+decompress
    // round trip of the round-13 entropy stack. Decoded hashes are
    // relational, so an encoder that corrupts under load FAILS the
    // gate rather than just slowing; all three forms must beat
    // stored.
    "q328_codec_throughput" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 32) { (grp, ids) =>
          val one = ids.map(d => Blobs.payload(d) + "\n").mkString
          val sb = new StringBuilder(one.length * 32)
          var k = 0
          while (k < 32) { sb.append(one); k += 1 }
          val data = sb.toString.getBytes("UTF-8")
          val z = graft.sources.ZstdEncode.compress(data)
          val l = graft.sources.Lz4Encode.compressBlock(data)
          val sn = graft.sources.Snappy.compress(data)
          val zOk = graft.sources.Zstd.walk(z) match {
            case Some(Seq(f)) => f.checksumState == "ok" &&
              java.util.Arrays.equals(f.decoded, data)
            case _ => false
          }
          val lOk = graft.sources.Lz4
            .decompressBlock(l, 0, l.length, data.length)
            .exists(java.util.Arrays.equals(_, data))
          val snOk = graft.sources.Snappy
            .uncompressSelf(sn, 0, sn.length, data.length)
            .exists(java.util.Arrays.equals(_, data))
          if (!zOk || !lOk || !snOk) Nil
          else Seq((grp, ids.length.toLong, data.length.toLong,
            hash60Bytes(data),
            if (z.length < data.length && l.length < data.length &&
              sn.length < data.length) 1L else 0L))
        }.toDF("grp", "n_docs", "orig_len", "payload_hash",
            "all_smaller")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 32 AS grp, doc_id AS d FROM documents),
        k AS (
          SELECT grp,
                 repeat(string_agg('doc-' || d || '-' || repeat('x',
                   CAST(d % 17 AS INTEGER)) || chr(10), ''
                   ORDER BY d), 32) AS payload,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(32 * sum(length('doc-' || d || '-') + (d % 17)
                   + 1) AS BIGINT) AS orig_len
          FROM r GROUP BY grp)
        SELECT grp, n_docs, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS all_smaller
        FROM k"""),
      headline = true),

    // q329 — FSE-COMPRESSED Huffman WEIGHTS (RFC §4.2.1, header <
    // 128): the weight stream under a custom FSE table written for
    // TWO INTERLEAVED decode states (even emissions on s1, odd on
    // s2, transitions interleaved in round order, the final weights
    // emitted as the stream exhausts), validated per block by
    // decoding with the engine's own reader before shipping. The
    // corpus here FORCES the path: every payload byte is >= 160
    // (md5 hex digits mapped to 160..175), so the direct 4-bit-
    // weights form — which can only transmit a PREFIX of the
    // alphabet up to symbol 128 — is impossible, and the huff_wins
    // law (ratio under 2/3 where raw-literal zstd gives ~1.0 on this
    // match-poor content) is carried by the FSE-weights path alone.
    // libzstd decodes the same bytes byte-exact in-query.
    "q329_zstd_fse_weights" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val hex = ids.map(d => md5Hex("hb:" + d)).mkString
          val data = hex.map { c =>
            val v = if (c <= '9') c - '0' else c - 'a' + 10
            (160 + v).toByte
          }.toArray
          val z = graft.sources.ZstdEncode.compress(data)
          val ownOk = graft.sources.Zstd.walk(z) match {
            case Some(Seq(f)) => f.kind == "zstd" &&
              f.checksumState == "ok" &&
              java.util.Arrays.equals(f.decoded, data)
            case _ => false
          }
          val jniOk = scala.util.Try(
            com.github.luben.zstd.Zstd.decompress(z,
              math.max(1, data.length))).toOption
            .exists(java.util.Arrays.equals(_, data))
          if (!ownOk) Nil
          else Seq((blobId, data.length.toLong, hash60Bytes(hex.getBytes("UTF-8")),
            if (z.length.toLong * 3 < data.length.toLong * 2) 1L
            else 0L,
            if (jniOk) 1L else 0L))
        }.toDF("blob_id", "orig_len", "payload_hash", "huff_wins",
            "jni_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg(md5('hb:' || d), '' ORDER BY d) AS payload,
                 CAST(32 * count(*) AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS huff_wins,
               CAST(1 AS BIGINT) AS jni_ok
        FROM k"""),
      headline = false),

    // q330 — MULTI-ROW-GROUP write: the parquet unit a 100 TB scan
    // actually plans on. The own writer emits ONE file of four
    // range-sorted row groups, each chunk carrying its own footer
    // Statistics (ParquetWrite.writeInt64RowGroups), and the engine's
    // own reader prunes WITHIN the file: the middle-third probe
    // (derived from the footer's own global bounds) selects row
    // groups from their chunk stats alone and decodes ONLY the
    // survivors' chunks — q308's skip loop at the intra-file
    // granularity, zero foreign code on either side. n_selected is
    // in the compared output so a decode-everything reader fails;
    // bytes md5-pinned vs the Python twin
    // (scripts/make_parquet_rowgroups_oracle.py), which pyarrow- and
    // DuckDB-re-reads incl. per-group statistics.
    "q330_parquet_multi_rowgroup_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, sortedIds) =>
          val ids = sortedIds.toIndexedSeq
          val n = ids.length
          def v(d: Long): Long = (d * 19) % 977
          val groups = (0 to 3).map { q =>
            ids.indices.filter(i => i * 4 / n == q)
              .map(i => Array(ids(i), v(ids(i))))
          }.filter(_.nonEmpty)
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val bytes = W.writeInt64RowGroups(Seq("rec_id", "val"),
            groups)
          val fileMd5 = md5Hex(bytes)
          val res = for {
            fm <- P.parseFooter(bytes)
            if fm.rowGroups.nonEmpty
            bounds <- {
              val bs = fm.rowGroups.map { rg =>
                rg.cols.find(_.path == "rec_id").flatMap { c =>
                  for { mn <- c.minLong; mx <- c.maxLong }
                    yield (c, mn, mx)
                }
              }
              if (bs.forall(_.isDefined)) Some(bs.flatten) else None
            }
          } yield {
            // probe from the file's OWN footer bounds
            val gmin = bounds.map(_._2).min
            val gmax = bounds.map(_._3).max
            val lo = gmin + (gmax - gmin) / 3
            val hi = gmin + 2 * (gmax - gmin) / 3
            var nSel = 0L
            var selRows = 0L
            var idSum = 0L
            var valSum = 0L
            var ok = true
            fm.rowGroups.zip(bounds).foreach { case (rg, (c, mn, mx)) =>
              if (mx >= lo && mn <= hi) {
                nSel += 1
                (P.readChunkCells(bytes, c, 0, 0),
                  rg.cols.find(_.path == "val")
                    .flatMap(P.readChunkCells(bytes, _, 0, 0))) match {
                  case (Some(rc), Some(vc))
                    if rc.longs.length == vc.longs.length =>
                    selRows += rc.longs.length
                    idSum += rc.longs.sum
                    valSum += vc.longs.sum
                  case _ => ok = false
                }
              }
            }
            if (!ok) Nil
            else Seq((blobId, fileMd5, bytes.length.toLong,
              fm.rowGroups.length.toLong, nSel, selRows, idSum,
              valSum))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "file_md5", "file_bytes_len", "n_groups",
            "n_selected", "sel_rows", "sel_id_sum", "sel_val_sum")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 md5('pqrg:' || string_agg(d, ',' ORDER BY d)) AS bkey
          FROM r GROUP BY blob_id),
        w AS (
          SELECT blob_id, d,
                 ((row_number() OVER (PARTITION BY blob_id ORDER BY d)
                   - 1) * 4) //
                   (count(*) OVER (PARTITION BY blob_id)) AS qtr,
                 min(d) OVER (PARTITION BY blob_id) AS gmin,
                 max(d) OVER (PARTITION BY blob_id) AS gmax
          FROM r),
        g AS (
          SELECT blob_id, qtr,
                 CAST(count(*) AS BIGINT) AS rc,
                 CAST(sum(d) AS BIGINT) AS isum,
                 CAST(sum((d * 19) % 977) AS BIGINT) AS vsum,
                 min(d) AS flo, max(d) AS fhi,
                 min(gmin) AS gmin, max(gmax) AS gmax
          FROM w GROUP BY blob_id, qtr),
        sel AS (
          SELECT blob_id,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(CASE WHEN fhi >= gmin + (gmax - gmin) // 3
                          AND flo <= gmin + 2 * (gmax - gmin) // 3
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
                 CAST(coalesce(sum(CASE
                   WHEN fhi >= gmin + (gmax - gmin) // 3
                    AND flo <= gmin + 2 * (gmax - gmin) // 3
                   THEN rc END), 0) AS BIGINT) AS sel_rows,
                 CAST(coalesce(sum(CASE
                   WHEN fhi >= gmin + (gmax - gmin) // 3
                    AND flo <= gmin + 2 * (gmax - gmin) // 3
                   THEN isum END), 0) AS BIGINT) AS sel_id_sum,
                 CAST(coalesce(sum(CASE
                   WHEN fhi >= gmin + (gmax - gmin) // 3
                    AND flo <= gmin + 2 * (gmax - gmin) // 3
                   THEN vsum END), 0) AS BIGINT) AS sel_val_sum
          FROM g GROUP BY blob_id)
        SELECT s.blob_id, f.file_md5, f.file_bytes_len, s.n_groups,
               s.n_selected, s.sel_rows, s.sel_id_sum, s.sel_val_sum
        FROM sel s JOIN k ON s.blob_id = k.blob_id
        JOIN read_parquet(
          '/root/repo/fixtures/parquet_rowgroups_oracle.parquet') f
          ON k.bkey = f.blob_key"""),
      headline = false),

    // q331 — the STREAMING TRAINING-SHARD SINK on the engine's OWN
    // writer: the one path where foreign code still did the writing
    // (q193's Spark parquet sink), now closed. Documents arrive as
    // two mtime-ordered deliveries (evens, then odds); each
    // micro-batch lands one own-written shard file per RANGE BIN
    // (doc_id / 128 — contiguous id ranges, so footer Statistics
    // are tight and prune) in the q310 corpus schema PLUS a toks
    // LIST<INT64> column in the 3-level layout (q255's read twin),
    // then commits an own-written per-batch manifest — tmp +
    // ATOMIC_MOVE everywhere, so drain x2 from one checkpoint adds
    // zero shards (the replay law). The query output is the WHOLE
    // loop read back from disk by the engine's own reader: manifest
    // ledger joined to a stats-driven probe over the shard set that
    // decodes ONLY footer-selected files (middle third of the
    // manifests' own global span; `pruned` is in the compared output
    // so a decode-everything reader fails). Every number re-derives
    // in DuckDB from `documents` — ledger, stats bounds, and decoded
    // sums must all agree with ground truth.
    "q331_stream_shard_sink" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.Trigger
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))
        val dv = new StreamDeliveries("graft_q331_shardsink")
        dv.land(d.filter(col("doc_id") % 2 === 0), "a", 1000000000000L)
        dv.land(d.filter(col("doc_id") % 2 === 1), "b", 1000000060000L)
        val out = s"${dv.root}/out"; val chk = s"${dv.root}/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          graft.streaming.ShardSink.shardStream(stream, out, chk,
            binWidth = 128L, trigger = Some(Trigger.AvailableNow()))
            .awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: must add zero shards
        // the ledger, back from disk via the engine's own reader
        val mrows = s.read.format("binaryFile")
          .load(out + "/manifest/batch=*.parquet")
          .select(regexp_extract(col("path"), "batch=(\\d+)", 1)
            .cast("long").as("batch"), col("content"))
          .as[(Long, Array[Byte])]
          .flatMap { case (batch, bytes) =>
            val P = graft.sources.Parquet
            P.parseFooter(bytes).toSeq.flatMap { fm =>
              val cs = fm.rowGroups.head.cols
              def longs(p: String) = cs.find(_.path == p)
                .flatMap(c => P.readChunkCells(bytes, c, 0, 0))
                .map(_.longs)
              (longs("bin"), longs("n_docs"), longs("n_tokens"),
                longs("min_id"), longs("max_id")) match {
                case (Some(b), Some(nd), Some(nt), Some(mn), Some(mx)) =>
                  b.indices.map(i =>
                    (batch, b(i), nd(i), nt(i), mn(i), mx(i)))
                case _ => Nil
              }
            }
          }.toDF("batch", "bin", "m_docs", "m_tokens", "m_min", "m_max")
        // bounded: TWO scalars — the probe bounds come from the
        // manifests alone (a KB-scale planning pass, q266's law)
        val bounds = mrows.agg(min(col("m_min")).as("a"),
          max(col("m_max")).as("b")).head()
        val gmin = bounds.getLong(0); val gmax = bounds.getLong(1)
        val lo = gmin + (gmax - gmin) / 3
        val hi = gmin + 2 * (gmax - gmin) / 3
        val decoded = s.read.format("binaryFile")
          .load(out + "/shards/batch=*/bin=*.parquet")
          .select(regexp_extract(col("path"), "batch=(\\d+)", 1)
            .cast("long").as("batch"),
            regexp_extract(col("path"), "bin=(\\d+)", 1)
              .cast("long").as("bin"), col("content"))
          .as[(Long, Long, Array[Byte])]
          .flatMap { case (batch, bin, bytes) =>
            val P = graft.sources.Parquet
            P.parseFooter(bytes).toSeq.flatMap { fm =>
              val cs = fm.rowGroups.head.cols
              cs.find(_.path == "doc_id").flatMap { c =>
                for { mn <- c.minLong; mx <- c.maxLong } yield (mn, mx)
              } match {
                case Some((mn, mx)) if mx < lo || mn > hi =>
                  // pruned from footer stats alone — data pages never
                  // touched
                  Seq((batch, bin, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
                    0L, mn, mx))
                case Some((mn, mx)) =>
                  def cells(p: String) = {
                    val (dl, rl) = fm.leafLevels(p)
                    cs.find(_.path == p)
                      .flatMap(cc => P.readChunkCells(bytes, cc, dl, rl))
                  }
                  (cells("doc_id"), cells("text"), cells("lang"),
                    cells("score"), cells("toks.list.element")) match {
                    case (Some(ic), Some(tc), Some(lc), Some(sc),
                      Some(kc)) =>
                      Seq((batch, bin, 0L, ic.longs.length.toLong,
                        ic.longs.sum,
                        tc.bins.map(_.length.toLong).sum,
                        lc.defs.count(_ == 0).toLong,
                        lc.bins.map(_.length.toLong).sum,
                        sc.defs.count(_ == 0).toLong, sc.longs.sum,
                        kc.defs.length.toLong, kc.longs.sum, mn, mx))
                    case _ => Nil
                  }
                case None => Nil
              }
            }
          }.toDF("batch", "bin", "pruned", "n_rows", "id_sum",
            "txt_len_sum", "n_lang_null", "lang_len_sum",
            "n_score_null", "score_sum", "tok_slots", "tok_sum",
            "stat_min", "stat_max")
        mrows.join(decoded, Seq("batch", "bin"))
          .select(col("batch"), col("bin"), col("m_docs"),
            col("m_tokens"), col("pruned"), col("n_rows"),
            col("id_sum"), col("txt_len_sum"), col("n_lang_null"),
            col("lang_len_sum"), col("n_score_null"), col("score_sum"),
            col("tok_slots"), col("tok_sum"), col("stat_min"),
            col("stat_max"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, text, lang, n_chars,
                 doc_id % 2 AS batch, doc_id // 128 AS bin
          FROM documents),
        tok AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(sum(CAST('0x' || substr(md5('tok:' || t), 1, 15)
                   AS BIGINT) % 50257) AS BIGINT) AS t_sum
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
          GROUP BY doc_id),
        per AS (
          SELECT d.batch, d.bin,
                 CAST(count(*) AS BIGINT) AS m_docs,
                 CAST(sum(tk.n_tok) AS BIGINT) AS m_tokens,
                 CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
                 CAST(sum(octet_length(encode(d.text))) AS BIGINT)
                   AS txt_len_sum,
                 CAST(sum(CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_lang_null,
                 CAST(sum(CASE WHEN d.doc_id % 7 = 0 THEN 0
                   ELSE octet_length(encode(d.lang)) END) AS BIGINT)
                   AS lang_len_sum,
                 CAST(sum(CASE WHEN d.doc_id % 11 = 3 THEN 1 ELSE 0
                   END) AS BIGINT) AS n_score_null,
                 CAST(sum(CASE WHEN d.doc_id % 11 = 3 THEN 0
                   ELSE d.n_chars END) AS BIGINT) AS score_sum,
                 CAST(sum(tk.t_sum) AS BIGINT) AS tok_sum,
                 CAST(min(d.doc_id) AS BIGINT) AS stat_min,
                 CAST(max(d.doc_id) AS BIGINT) AS stat_max
          FROM d JOIN tok tk ON tk.doc_id = d.doc_id
          GROUP BY 1, 2),
        g AS (SELECT min(stat_min) AS gmin, max(stat_max) AS gmax
              FROM per),
        pp AS (
          SELECT p.*,
                 (p.stat_max < g.gmin + (g.gmax - g.gmin) // 3 OR
                  p.stat_min > g.gmin + 2 * (g.gmax - g.gmin) // 3)
                   AS pr
          FROM per p CROSS JOIN g)
        SELECT batch, bin, m_docs, m_tokens,
               CAST(CASE WHEN pr THEN 1 ELSE 0 END AS BIGINT) AS pruned,
               CAST(CASE WHEN pr THEN 0 ELSE m_docs END AS BIGINT)
                 AS n_rows,
               CAST(CASE WHEN pr THEN 0 ELSE id_sum END AS BIGINT)
                 AS id_sum,
               CAST(CASE WHEN pr THEN 0 ELSE txt_len_sum END AS BIGINT)
                 AS txt_len_sum,
               CAST(CASE WHEN pr THEN 0 ELSE n_lang_null END AS BIGINT)
                 AS n_lang_null,
               CAST(CASE WHEN pr THEN 0 ELSE lang_len_sum END
                 AS BIGINT) AS lang_len_sum,
               CAST(CASE WHEN pr THEN 0 ELSE n_score_null END
                 AS BIGINT) AS n_score_null,
               CAST(CASE WHEN pr THEN 0 ELSE score_sum END AS BIGINT)
                 AS score_sum,
               CAST(CASE WHEN pr THEN 0 ELSE m_tokens END AS BIGINT)
                 AS tok_slots,
               CAST(CASE WHEN pr THEN 0 ELSE tok_sum END AS BIGINT)
                 AS tok_sum,
               stat_min, stat_max
        FROM pp"""),
      headline = true),

    // q332 — ORC WRITE-SIDE SKIPPING METADATA: OrcWrite now emits the
    // full index region (per-column ROW_INDEX streams with seek
    // positions + typed per-group statistics, BLOOM_FILTER_UTF8 with
    // the reader's own wangMix/murmur64 hashes, typed footer stats,
    // and the Metadata section's StripeStatistics), and the engine's
    // OWN q300 point-lookup pyramid runs unchanged on the bytes it
    // just wrote: stripe stats drop stripes, row-group ranges drop
    // groups, the bloom is consulted only for range survivors, and
    // decode touches nothing past a bloom miss. laws_ok pins
    // consults <= range-survivors and decodes <= bloom-passes per
    // probe; present keys must be FOUND through the stack; probes
    // d+1 (in range, absent — the bloom's job) and -d-1 (out of
    // range — the stats' job) must come back not-found. orc-core
    // cross-reads the same bytes in OrcSpec.
    "q332_orc_write_skip_stack" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.OrcWrite
          val O = graft.sources.Orc
          val bytes = W.writeTable(Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.OLongCol("val", ids.map(d =>
              if (d % 11 == 3) None else Some((d * 7) % 1000))),
            W.OStringCol("tag", ids.map(d =>
              Some("t" + (d % 13))))),
            rowIndexStride = 32, bloomCols = Set(0))
          O.parseTail(bytes).toSeq.flatMap { t =>
            val stride = t.rowIndexStride
            if (stride <= 0 ||
              t.stripeStats.length != t.stripes.length) Nil
            else {
              val rgStats = scala.collection.mutable
                .Map.empty[Int, Option[Seq[graft.sources.Orc.ColStats]]]
              val blooms = scala.collection.mutable
                .Map.empty[Int, Option[Seq[graft.sources.Orc.OrcBloom]]]
              val decoded = scala.collection.mutable
                .Map.empty[Int, Option[Array[Long]]]
              def rg(i: Int) = rgStats.getOrElseUpdate(i,
                O.stripeRowGroupStats(bytes, t, t.stripes(i), 1))
              def bl(i: Int) = blooms.getOrElseUpdate(i,
                O.stripeBlooms(bytes, t, t.stripes(i), 1))
              def dec(i: Int) = decoded.getOrElseUpdate(i,
                O.stripeColumnLongs(bytes, t, t.stripes(i), 1))
              var ok = true
              def probe(k: Long): (Boolean, Boolean) = {
                var found = false
                var rangeGroups = 0L
                var bloomConsults = 0L
                var bloomPasses = 0L
                var decodes = 0L
                for (i <- t.stripes.indices) {
                  val ss = t.stripeStats(i).lift(1)
                  val stripeHit = (for {
                    mn <- ss.flatMap(_.intMin)
                    mx <- ss.flatMap(_.intMax)
                  } yield k >= mn && k <= mx)
                    .getOrElse { ok = false; false }
                  if (stripeHit) {
                    (rg(i), bl(i)) match {
                      case (Some(gs), Some(bs))
                        if gs.length == bs.length =>
                        for (g <- gs.indices) {
                          val gHit = (for {
                            mn <- gs(g).intMin
                            mx <- gs(g).intMax
                          } yield k >= mn && k <= mx)
                            .getOrElse { ok = false; false }
                          if (gHit) {
                            rangeGroups += 1
                            bloomConsults += 1
                            if (bs(g).testLong(k)) {
                              bloomPasses += 1
                              dec(i) match {
                                case Some(vals) =>
                                  decodes += 1
                                  val lo = (g * stride).toInt
                                  val hi = math.min((g + 1) * stride,
                                    vals.length.toLong).toInt
                                  var j = lo
                                  while (j < hi && !found) {
                                    if (vals(j) == k) found = true
                                    j += 1
                                  }
                                case None => ok = false
                              }
                            }
                          }
                        }
                      case _ => ok = false
                    }
                  }
                }
                val laws = bloomConsults <= rangeGroups &&
                  bloomPasses <= bloomConsults &&
                  decodes <= bloomPasses
                (found, laws)
              }
              val present = ids.filter(_ % 97 == 0)
              val outRows = present.flatMap { k =>
                val (f1, l1) = probe(k)
                val (f2, l2) = probe(-k - 1)
                val (f3, l3) = probe(k + 1)
                Seq(
                  (blobId, k, 1L, if (f1) 1L else 0L,
                    if (l1) 1L else 0L),
                  (blobId, -k - 1, 0L, if (f2) 1L else 0L,
                    if (l2) 1L else 0L),
                  (blobId, k + 1, 0L, if (f3) 1L else 0L,
                    if (l3) 1L else 0L))
              }
              if (ok) outRows else Nil
            }
          }
        }.toDF("blob_id", "probe_key", "expected_present", "found",
            "laws_ok")
      },
      oracle = Some("""
        WITH p AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents
          WHERE doc_id % 97 = 0)
        SELECT blob_id, d AS probe_key,
               CAST(1 AS BIGINT) AS expected_present,
               CAST(1 AS BIGINT) AS found, CAST(1 AS BIGINT) AS laws_ok
        FROM p
        UNION ALL
        SELECT blob_id, -d - 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(1 AS BIGINT)
        FROM p
        UNION ALL
        SELECT blob_id, d + 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(1 AS BIGINT)
        FROM p"""),
      headline = false),

    // q333 — DYNAMIC-HUFFMAN DEFLATE (BTYPE=10, RFC 1951 §3.2.7):
    // the encoder now builds per-input package-merge codes and ships
    // them through the code-length code; Deflate.compress picks the
    // winner, and the gzip member (writeMemberOwnBest), parquet
    // codec 2, and ORC ZLIB chunks all route through it. The engine
    // also gained its own Inflate (stored/fixed/dynamic decode), so
    // DEFLATE is closed in BOTH directions from first principles.
    // Laws in the compared output: dynamic STRICTLY beats the fixed
    // block on this skewed corpus; the own Inflate round-trips the
    // dynamic stream with the exact consumed length; the dynamic
    // gzip member decodes through the member walk (stdlib inflate +
    // CRC32); parquet codec-2 pages (now dynamic-backed) decode
    // through the engine's own reader and beat stored pages.
    "q333_deflate_dynamic_huffman" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val payload = ids.map(d =>
            "dyn doc " + d + " lorem ipsum " +
              ("ab" * (d % 9).toInt) + "\n").mkString
          val data = payload.getBytes("UTF-8")
          val D = graft.sources.Deflate
          val I = graft.sources.Inflate
          val fix = D.compressFixed(data)
          val dyn = D.compressDynamic(data)
          val dynWins = dyn.length < fix.length
          val ownRt = I.inflateRaw(dyn).exists { case (p, c) =>
            java.util.Arrays.equals(p, data) && c == dyn.length
          }
          val m = graft.sources.Gzip.writeMemberOwnBest(data)
          val ms = graft.sources.Gzip.members(m)
          val memberOk = ms.length == 1 && ms.head.crc_ok &&
            java.util.Arrays.equals(ms.head.data, data) &&
            m.length < graft.sources.Gzip.writeMemberOwn(data).length
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val fields = Seq(W.Leaf("rec_id", 0, 2))
          val ld = Seq(W.LeafData(Array.fill(ids.length)(0), null,
            longs = ids.toArray))
          val pgz = W.writeFile(fields, ld, codec = 2)
          val pqOk = P.columnLongs(pgz, "rec_id")
            .exists(_.toSeq == ids) &&
            pgz.length < W.writeFile(fields, ld, codec = 0).length
          if (dynWins && ownRt && memberOk && pqOk)
            Seq((blobId, data.length.toLong, hash60Bytes(data), 1L, 1L,
              1L, 1L))
          else Nil
        }.toDF("blob_id", "orig_len", "payload_hash",
            "dyn_beats_fixed", "own_roundtrip", "member_ok", "pq_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('dyn doc ' || d || ' lorem ipsum ' ||
                   repeat('ab', CAST(d % 9 AS INTEGER)) || chr(10), ''
                   ORDER BY d) AS payload,
                 CAST(sum(length('dyn doc ' || d || ' lorem ipsum ') +
                   2 * (d % 9) + 1) AS BIGINT) AS orig_len
          FROM r GROUP BY blob_id)
        SELECT blob_id, orig_len,
               ${OracleSql.sqlHash60("payload")} AS payload_hash,
               CAST(1 AS BIGINT) AS dyn_beats_fixed,
               CAST(1 AS BIGINT) AS own_roundtrip,
               CAST(1 AS BIGINT) AS member_ok,
               CAST(1 AS BIGINT) AS pq_ok
        FROM k"""),
      headline = false),

    // q334 — the bzip2 ENCODER (write twin of q238's decoder, and of
    // q239's tar.bz2 composition): initial RLE, prefix-doubling BWT,
    // MTF + RUNA/RUNB, the spec's MULTI-TABLE Huffman (2..6 tables,
    // cumulative-frequency seeding, four refinement iterations of
    // cheapest-table selection + package-merge rebuild), selectors
    // MTF+unary, delta-coded lengths, per-block CRC32 and the
    // rotate-fold stream CRC. Here the engine composes a tar with its
    // own writer, compresses it with its own bzip2, and the decode
    // law is BYTE EQUALITY: own Bzip2.decompress must return the
    // exact tar image, whose own Tar.parse then yields the entries
    // compared against DuckDB's re-derivation (sizes, payload hashes,
    // ustar stride arithmetic). CPython bz2 (libbzip2) decodes the
    // same encoder byte-exact across the Bzip2Spec battery.
    "q334_bzip2_own_encoder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val p1 = ids.map(d => "doc-" + d + "|" + (d % 23) + "\n")
            .mkString
          val p2 = ids.mkString(",")
          val tar = graft.sources.Tar.write(Seq(
            ("docs.txt", p1.getBytes("UTF-8"), 1234567L),
            ("ids.csv", p2.getBytes("UTF-8"), 1234567L)))
          val bz = graft.sources.Bzip2Encode.compress(tar, level = 1)
          val back = graft.sources.Bzip2.decompress(bz)
          val rtExact = back.exists(java.util.Arrays.equals(_, tar))
          val sizeLaw = bz.length < tar.length
          if (!(rtExact && sizeLaw)) Nil
          else graft.sources.Tar.parse(blobId, tar).map { e =>
            val payload = new String(tar, e.data_offset.toInt,
              e.size.toInt, "UTF-8")
            (blobId, e.entry_name, e.size, hash60Bytes(payload.getBytes("UTF-8")),
              tar.length.toLong, 1L, 1L)
          }
        }.toDF("blob_id", "entry_name", "size", "data_hash",
            "tar_len", "bz_smaller", "rt_exact")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '|' || (d % 23) || chr(10),
                   '' ORDER BY d) AS p1,
                 string_agg(d, ',' ORDER BY d) AS p2
          FROM r GROUP BY blob_id),
        g AS (
          SELECT blob_id, p1, p2,
                 CAST(length(p1) AS BIGINT) AS s1,
                 CAST(length(p2) AS BIGINT) AS s2
          FROM k),
        geo AS (
          SELECT *,
                 512 + ((s1 + 511) // 512) * 512 +
                 512 + ((s2 + 511) // 512) * 512 + 1024 AS tar_len
          FROM g)
        SELECT blob_id, 'docs.txt' AS entry_name, s1 AS size,
               ${OracleSql.sqlHash60("p1")} AS data_hash, tar_len,
               CAST(1 AS BIGINT) AS bz_smaller,
               CAST(1 AS BIGINT) AS rt_exact
        FROM geo
        UNION ALL
        SELECT blob_id, 'ids.csv', s2,
               ${OracleSql.sqlHash60("p2")}, tar_len,
               CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        FROM geo"""),
      headline = false),

    // q335 — GENERAL Avro container WRITE (AvroWrite, the schema-
    // driven twin of the generic read walk): records encoded datum by
    // datum against the embedded schema — zigzag varints, nullable
    // union dispatch, array blocks — framed with deterministic sync
    // markers under all FOUR engine-owned codecs (null, deflate via
    // q333's dynamic-Huffman best-of, snappy + BE CRC32, zstandard).
    // The decode-own-write law runs per codec: the engine's own
    // parseContainer must return value-identical records, whose sums
    // re-derive in DuckDB; each compressed container must beat the
    // null-codec one (size law). Apache Avro (the Java reference)
    // cross-reads the same bytes in AvroGenericSpec.
    "q335_avro_container_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val G = graft.sources.AvroGeneric
          val schema =
            """{"type":"record","name":"doc","fields":[
              |{"name":"id","type":"long"},
              |{"name":"name","type":"string"},
              |{"name":"lang","type":["null","string"]},
              |{"name":"toks","type":{"type":"array","items":"long"}}
              |]}""".stripMargin.replaceAll("\n", "")
          val recs = ids.map { d =>
            G.VRecord(Vector(
              "id" -> G.VLong(d),
              "name" -> G.VString(Blobs.payload(d)),
              "lang" -> (if (d % 7 == 0) G.VNull
                         else G.VString(Langs((d % 5).toInt))),
              "toks" -> G.VArray((0L until (1 + d % 5))
                .map(j => G.VLong((d + j) % 1000)).toVector)))
          }
          val nullBytes = graft.sources.AvroWrite.container(
            schema, recs, "null", s"q335-$blobId", 256)
          Seq("null", "deflate", "snappy", "zstandard").flatMap {
            codec =>
              val b =
                if (codec == "null") nullBytes
                else graft.sources.AvroWrite.container(
                  schema, recs, codec, s"q335-$blobId", 256)
              G.parseContainer(b).toSeq.flatMap { dec =>
                if (dec.records != recs.toVector) Nil
                else {
                  val idSum = ids.sum
                  val nameLen = ids.map(d =>
                    ("doc-" + d + "-").length + d % 17).sum
                  val nLangNull = ids.count(_ % 7 == 0).toLong
                  val tokSlots = ids.map(d => 1 + d % 5).sum
                  val tokSum = ids.map(d => (0L until (1 + d % 5))
                    .map(j => (d + j) % 1000).sum).sum
                  Seq((blobId, codec, ids.length.toLong, idSum,
                    nameLen, nLangNull, tokSlots, tokSum,
                    if (codec == "null" ||
                      b.length < nullBytes.length) 1L else 0L))
                }
              }
          }
        }.toDF("blob_id", "codec", "n_records", "id_sum",
            "name_len_sum", "n_lang_null", "tok_slots", "tok_sum",
            "beats_null")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        tok AS (
          SELECT r.blob_id, r.d,
                 count(*) AS slots, sum((r.d + j.i) % 1000) AS tsum
          FROM r JOIN generate_series(0, 4) j(i) ON j.i <= r.d % 5
          GROUP BY 1, 2),
        per AS (
          SELECT r.blob_id,
                 CAST(count(*) AS BIGINT) AS n_records,
                 CAST(sum(r.d) AS BIGINT) AS id_sum,
                 CAST(sum(length('doc-' || r.d || '-') + r.d % 17)
                   AS BIGINT) AS name_len_sum,
                 CAST(sum(CASE WHEN r.d % 7 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_lang_null,
                 CAST(sum(t.slots) AS BIGINT) AS tok_slots,
                 CAST(sum(t.tsum) AS BIGINT) AS tok_sum
          FROM r JOIN tok t ON t.blob_id = r.blob_id AND t.d = r.d
          GROUP BY 1)
        SELECT p.blob_id, c.codec, p.n_records, p.id_sum,
               p.name_len_sum, p.n_lang_null, p.tok_slots, p.tok_sum,
               CAST(1 AS BIGINT) AS beats_null
        FROM per p
        CROSS JOIN (SELECT unnest(['null', 'deflate', 'snappy',
          'zstandard']) AS codec) c"""),
      headline = false),

    // q337 — the LZMA / xz ENCODER (LzmaEncode, write twin of
    // q304–q309's decoders — the LAST one-directional codec family):
    // range encoder built as the exact inverse of the engine's own
    // Lzma2 range decoder (33-bit low with carry cache, the decoder's
    // single-shift normalize schedule so every chunk's byte count
    // satisfies the read side's exact-consumption law), hash-chain
    // matches with rep0 reuse and matched-literal coding, LZMA2
    // chunking with stored fallback, and the full xz container —
    // header/footer CRC32s, CRC64 block checks, the SEEK INDEX. The
    // engine composes a tar.xz with its own tar writer + own xz in
    // BOTH shapes: single-block and MULTI-BLOCK (the 100 TB shape —
    // the index makes each block independently decodable, so a
    // 1000-task scan can split one archive without decompressing its
    // prefix). Laws: own Xz walk + own Lzma2 decode return the exact
    // tar image (both shapes), the block count matches the split
    // arithmetic, the legacy .lzma alone framing round-trips, and
    // compressed beats raw. liblzma (CPython) and XZ-for-Java decode
    // the same encoder byte-exact across the XzSpec battery.
    "q337_xz_own_encoder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val p1 = ids.map(d => "doc-" + d + "|" + (d % 29) + "\n")
            .mkString
          val p2 = ids.mkString(";")
          val tar = graft.sources.Tar.write(Seq(
            ("corpus.txt", p1.getBytes("UTF-8"), 1234567L),
            ("ids.lst", p2.getBytes("UTF-8"), 1234567L)))
          val E = graft.sources.LzmaEncode
          def decodeOwn(z: Array[Byte]): Option[Array[Byte]] =
            graft.sources.Xz.parse(z).flatMap { info =>
              val out = new java.io.ByteArrayOutputStream()
              var ok = info.checkType == 4
              info.blocks.foreach { blk =>
                graft.sources.Lzma2.decode(z, blk.dataStart,
                  blk.unpackedLen) match {
                  case Some(x) => out.write(x, 0, x.length)
                  case None => ok = false
                }
              }
              if (ok) Some(out.toByteArray) else None
            }
          val z1 = E.xz(tar)
          val zN = E.xz(tar, blockSize = 2048)
          val wantBlocks = (tar.length + 2047) / 2048
          val gotBlocks = graft.sources.Xz.parse(zN)
            .map(_.blocks.length).getOrElse(-1)
          val al = E.alone(tar)
          val rtExact =
            decodeOwn(z1).exists(java.util.Arrays.equals(_, tar)) &&
              decodeOwn(zN).exists(
                java.util.Arrays.equals(_, tar)) &&
              graft.sources.Lzma2.decodeAlone(al).exists(
                java.util.Arrays.equals(_, tar))
          val sizeLaw = z1.length < tar.length &&
            al.length < tar.length
          if (!(rtExact && sizeLaw && gotBlocks == wantBlocks)) Nil
          else graft.sources.Tar.parse(blobId, tar).map { e =>
            val payload = new String(tar, e.data_offset.toInt,
              e.size.toInt, "UTF-8")
            (blobId, e.entry_name, e.size, hash60Bytes(payload.getBytes("UTF-8")),
              tar.length.toLong, wantBlocks.toLong, 1L, 1L)
          }
        }.toDF("blob_id", "entry_name", "size", "data_hash",
            "tar_len", "n_blocks", "xz_smaller", "rt_exact")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '|' || (d % 29) || chr(10),
                   '' ORDER BY d) AS p1,
                 string_agg(d, ';' ORDER BY d) AS p2
          FROM r GROUP BY blob_id),
        g AS (
          SELECT blob_id, p1, p2,
                 CAST(length(p1) AS BIGINT) AS s1,
                 CAST(length(p2) AS BIGINT) AS s2
          FROM k),
        geo AS (
          SELECT *,
                 512 + ((s1 + 511) // 512) * 512 +
                 512 + ((s2 + 511) // 512) * 512 + 1024 AS tar_len
          FROM g)
        SELECT blob_id, 'corpus.txt' AS entry_name, s1 AS size,
               ${OracleSql.sqlHash60("p1")} AS data_hash, tar_len,
               (tar_len + 2047) // 2048 AS n_blocks,
               CAST(1 AS BIGINT) AS xz_smaller,
               CAST(1 AS BIGINT) AS rt_exact
        FROM geo
        UNION ALL
        SELECT blob_id, 'ids.lst', s2,
               ${OracleSql.sqlHash60("p2")}, tar_len,
               (tar_len + 2047) // 2048,
               CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        FROM geo"""),
      headline = false),

    // q341 -- parquet V2 VALUE ENCODINGS, write side (the read side
    // has decoded them since the q268-era work): the encodings a
    // 100 TB columnar corpus actually wants -- DELTA_BINARY_PACKED
    // for sorted doc ids (per-block min-delta + LSB-first miniblock
    // packing, the exact inverse of the own reader),
    // DELTA_BYTE_ARRAY front-coding for sorted names,
    // DELTA_LENGTH_BYTE_ARRAY for language tags, and
    // BYTE_STREAM_SPLIT for the score/embedding doubles (transposed
    // IEEE bytes -- the scientific-data layout). The engine writes a
    // per-blob corpus shard in BOTH forms, PLAIN and v2, through its
    // own writer; laws: the own reader returns every column
    // value-identical from the v2 file, the v2 file is strictly
    // smaller (front-coding + delta packing must actually pay on
    // sorted data), and all sums re-derive in DuckDB. parquet-mr
    // cross-reads the identical writer output across the ParquetSpec
    // battery (incl. the PARQUET-246 split guard and the
    // non-vectorized BSS path).
    "q341_parquet_v2_encodings_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val n = ids.length
          val names = ids.map(d => f"doc-$d%012d/s-${d % 7}")
          val langs = ids.map(d => s"lang-${d % 5}")
          val scoreBits = ids.map(d =>
            java.lang.Double.doubleToLongBits((d % 48) / 8.0))
          val fields = Seq(
            W.Leaf("doc_id", 0, 2),
            W.Leaf("name", 0, 6, convertedType = 0),
            W.Leaf("lang", 0, 6, convertedType = 0),
            W.Leaf("score", 0, 5))
          def mk(encs: (Int, Int, Int, Int)) = Seq(
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.toArray, enc = encs._1),
            W.LeafData(Array.fill(n)(0), null,
              bins = names.map(_.getBytes("UTF-8")).toArray,
              enc = encs._2),
            W.LeafData(Array.fill(n)(0), null,
              bins = langs.map(_.getBytes("UTF-8")).toArray,
              enc = encs._3),
            W.LeafData(Array.fill(n)(0), null,
              longs = scoreBits.toArray, enc = encs._4))
          val v2 = W.writeFile(fields, mk((5, 7, 6, 9)),
            pageRows = 512)
          val plain = W.writeFile(fields, mk((0, 0, 0, 0)),
            pageRows = 512)
          val rt =
            P.columnLongs(v2, "doc_id").exists(_.toSeq == ids) &&
              P.columnStrings(v2, "name").exists(
                _.toSeq == names) &&
              P.columnStrings(v2, "lang").exists(
                _.toSeq == langs) &&
              P.columnLongs(v2, "score").exists(
                _.toSeq == scoreBits)
          val smaller = v2.length < plain.length
          if (!(rt && smaller)) Nil
          else Seq((blobId, n.toLong, ids.sum,
            names.map(_.length.toLong).sum,
            langs.distinct.length.toLong,
            scoreBits.map(java.lang.Double.longBitsToDouble).sum,
            1L, 1L))
        }.toDF("blob_id", "n_rows", "id_sum", "name_len_sum",
            "n_langs", "score_sum", "rt_exact", "v2_smaller")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(length(printf('doc-%012d/s-%d', d, d % 7)))
                 AS BIGINT) AS name_len_sum,
               CAST(count(DISTINCT d % 5) AS BIGINT) AS n_langs,
               sum((d % 48) / 8.0) AS score_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS v2_smaller
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q342 -- the Avro codec table CLOSED: with q334's bzip2 and
    // q337's xz encoders landed, the container writer now covers
    // every codec the Avro spec names (null, deflate, snappy,
    // zstandard, bzip2, xz) with engine-owned encoders on BOTH
    // sides -- this query drives the two archive codecs q335 could
    // not. Per blob the corpus records are framed under bzip2 (BWT +
    // multi-table Huffman) and xz (LZMA2 + seek index), each block
    // one complete stream; the engine's own parseContainer must
    // return value-identical records through its own bzip2/LZMA
    // decoders, and each compressed container must beat the stored
    // one. Apache Avro (BZip2Codec/XZCodec, the Java reference)
    // cross-reads the same bytes in AvroGenericSpec.
    "q342_avro_archive_codecs" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val G = graft.sources.AvroGeneric
          val schema =
            """{"type":"record","name":"doc","fields":[""" +
              """{"name":"id","type":"long"},""" +
              """{"name":"body","type":"string"}]}"""
          val recs = ids.map { d =>
            G.VRecord(Vector(
              "id" -> G.VLong(d),
              "body" -> G.VString(
                s"doc $d lang ${d % 5} " + ("lorem " * (d % 9).toInt))))
          }
          val nullBytes = graft.sources.AvroWrite.container(
            schema, recs, "null", s"q342-$blobId", 512)
          Seq("bzip2", "xz").flatMap { codec =>
            val b = graft.sources.AvroWrite.container(
              schema, recs, codec, s"q342-$blobId", 512)
            G.parseContainer(b).toSeq.flatMap { dec =>
              if (dec.records != recs.toVector ||
                b.length >= nullBytes.length) Nil
              else {
                val bodyLen = ids.map(d =>
                  (s"doc $d lang ${d % 5} ").length +
                    6L * (d % 9)).sum
                Seq((blobId, codec, ids.length.toLong, ids.sum,
                  bodyLen, 1L, 1L))
              }
            }
          }
        }.toDF("blob_id", "codec", "n_records", "id_sum",
            "body_len_sum", "rt_exact", "beats_null")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        per AS (
          SELECT blob_id,
                 CAST(count(*) AS BIGINT) AS n_records,
                 CAST(sum(d) AS BIGINT) AS id_sum,
                 CAST(sum(length('doc ' || d || ' lang ' || (d % 5)
                   || ' ') + 6 * (d % 9)) AS BIGINT) AS body_len_sum
          FROM r GROUP BY blob_id)
        SELECT p.blob_id, c.codec, p.n_records, p.id_sum,
               p.body_len_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS beats_null
        FROM per p
        CROSS JOIN (SELECT unnest(['bzip2', 'xz']) AS codec) c"""),
      headline = false),

    // q343 -- the CDX(J) INDEX, write side + index-driven fetch: how
    // the web-archive world random-accesses petabytes of WARC. The
    // engine writes a member-per-record .warc.gz (own gzip encoder,
    // q327's layout) AND its CDXJ index -- SURT keys (reversed-host
    // sort transform), 14-digit timestamps, canonical-JSON capture
    // metadata carrying each member's (offset, length) and the
    // sha1-base32 payload digest -- sorted by (SURT, ts), the order
    // the ecosystem binary-searches. The probe law is the q330
    // posture on crawl data: fetching a URI goes CDX lookup -> slice
    // ONE gzip member -> own inflate -> own WARC parse, decoding
    // exactly n_probes members out of the archive; payload and
    // digest must match, and the index's length census must equal a
    // full-archive replay. At 100 TB the index is the difference
    // between a seek and a scan.
    "q343_warc_cdx_index_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.WarcWrite
          def uriOf(d: Long) = s"https://ex-${d % 7}.org/doc/$d?x=${d % 3}"
          def payloadOf(d: Long) =
            s"payload for $d: " + ("w" * (d % 11).toInt)
          def tsOf(d: Long) = f"20260101${(d % 24)}%02d0000"
          val recs = ids.map { d =>
            W.record("response", uriOf(d), f"$d%08d", 
              "2026-01-01T00:00:00Z",
              payloadOf(d).getBytes("UTF-8"))
          }
          val (gz, offs) = W.writeGzIndexed(recs)
          val fname = s"blob-$blobId.warc.gz"
          val entries = ids.zip(offs).map { case (d, (off, len)) =>
            W.CdxEntry(uriOf(d), tsOf(d), off, len,
              W.sha1B32(payloadOf(d).getBytes("UTF-8")), fname)
          }
          val cdx = new String(W.cdxj(entries), "UTF-8")
          val lines = cdx.split("\n").filter(_.nonEmpty)
          // law 1: lines sorted by (SURT, ts)
          val keys = lines.map { l =>
            val a = l.split(" ", 3); (a(0), a(1))
          }
          val sortedOk = keys.zip(keys.drop(1)).forall {
            case (x, y) => x._1 < y._1 ||
              (x._1 == y._1 && x._2 <= y._2)
          }
          // law 2: index-driven fetch decodes ONLY the probed
          // members; payload + digest byte-exact
          val byUri = entries.map(e => (e.uri, e)).toMap
          val probes = ids.filter(_ % 5 == 2)
          var nDecoded = 0L
          var probeLen = 0L
          var fetchOk = true
          probes.foreach { d =>
            byUri.get(uriOf(d)) match {
              case Some(e) =>
                val slice = java.util.Arrays.copyOfRange(gz,
                  e.offset.toInt, (e.offset + e.length).toInt)
                graft.sources.Warc.gunzip(slice)
                  .map(m => graft.sources.Warc.parse(blobId, m)) match {
                  case Some(Seq(r)) =>
                    nDecoded += 1
                    val want = payloadOf(d)
                    if (r.target_uri != uriOf(d) ||
                      r.payload != want ||
                      e.digest != W.sha1B32(want.getBytes("UTF-8")))
                      fetchOk = false
                    else probeLen += r.content_length
                  case _ => fetchOk = false
                }
              case None => fetchOk = false
            }
          }
          // law 3: the index's length census == full-archive replay
          val full = graft.sources.Warc.parseAuto(blobId, gz)
          val censusOk =
            full.length == ids.length &&
              full.map(_.content_length).sum ==
                ids.map(payloadOf(_).length.toLong).sum
          val totalLen = full.map(_.content_length).sum
          if (!(sortedOk && fetchOk && censusOk &&
            nDecoded == probes.length.toLong &&
            lines.length == ids.length)) Nil
          else Seq((blobId, ids.length.toLong,
            lines.length.toLong, nDecoded, probeLen, totalLen,
            1L, 1L))
        }.toDF("blob_id", "n_records", "n_cdx", "n_probes",
            "probe_len_sum", "total_len", "sorted_ok", "fetch_exact")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 CAST(length('payload for ' || doc_id || ': ')
                   + doc_id % 11 AS BIGINT) AS plen
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(count(*) AS BIGINT) AS n_cdx,
               CAST(sum(CASE WHEN d % 5 = 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_probes,
               CAST(sum(CASE WHEN d % 5 = 2 THEN plen ELSE 0 END)
                 AS BIGINT) AS probe_len_sum,
               CAST(sum(plen) AS BIGINT) AS total_len,
               CAST(1 AS BIGINT) AS sorted_ok,
               CAST(1 AS BIGINT) AS fetch_exact
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q344 -- zstd PREFIX-DICTIONARY compression (RFC 8878 raw-
    // content dictionaries): the small-document economics of a
    // 100 TB corpus. KB-sized docs sharing boilerplate compress
    // terribly alone -- the window never sees the template twice --
    // so production pipelines train one dictionary and prime every
    // frame with it. The engine owns BOTH directions:
    // compressWithDict seeds its hash chains over the dictionary so
    // content matches into the shared template from byte one, and
    // walkWithDict primes the decode window while content size, the
    // 128 KiB block bound, and the XXH64 checksum still measure the
    // content alone. Laws: every doc round-trips byte-exact through
    // the own pair; a doc frame is UNDECODABLE without its
    // dictionary (matches reach before the frame -> fails closed);
    // the dictionary strictly beats dict-less compression per blob
    // (the reason to bother); raw sizes re-derive in DuckDB
    // (KFIXED + digit lengths). libzstd cross-pins BOTH directions
    // in ZstdSpec (decompressUsingDict eats own frames; own walk
    // eats ZSTD_compress_usingDict output at levels 1/3/9).
    "q344_zstd_dictionary" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val E = graft.sources.ZstdEncode
          val Z = graft.sources.Zstd
          val langs = Seq("en", "es", "fr", "de", "pt")
          def docOf(d: Long): String =
            "{'license': 'cc-by-4.0', 'source': 'commoncrawl', " +
              "'quality_gates': ['gopher', 'dedup', 'decontam'], " +
              s"'doc_id': $d, 'lang': '${langs((d % 5).toInt)}', " +
              s"'text': 'sample ${d % 13}'}"
          val dict = docOf(0L).getBytes("UTF-8")
          var rawSum = 0L
          var dictSum = 0L
          var plainSum = 0L
          var rt = true
          ids.foreach { d =>
            val doc = docOf(d).getBytes("UTF-8")
            rawSum += doc.length
            val z = E.compressWithDict(doc, dict)
            dictSum += z.length
            plainSum += E.compress(doc).length
            val back = Z.walkWithDict(z, dict)
            if (!back.exists(fr => fr.length == 1 &&
              fr.head.checksumState == "ok" &&
              java.util.Arrays.equals(fr.head.decoded, doc)))
              rt = false
            // the frame must be undecodable WITHOUT its dictionary
            if (Z.walk(z).isDefined) rt = false
          }
          if (!(rt && dictSum < plainSum)) Nil
          else Seq((blobId, ids.length.toLong, rawSum, 1L, 1L))
        }.toDF("blob_id", "n_docs", "raw_len_sum", "rt_exact",
            "dict_beats_plain")
      },
      // KFIXED = every non-digit char of the doc template (the two
      // lang chars included); digits re-derived per id
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id,
                 KFIXED + length(CAST(doc_id AS VARCHAR))
                   + length(CAST(doc_id % 13 AS VARCHAR)) AS rlen
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(rlen) AS BIGINT) AS raw_len_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS dict_beats_plain
        FROM r GROUP BY blob_id""".replace("KFIXED", "144")),
      headline = false),

    // q345 -- dictionary TRAINING on the corpus itself (the ZDICT
    // role): q344 proved the dictionary mechanics; this query closes
    // the loop a production pipeline runs -- SAMPLE the corpus,
    // TRAIN a dictionary (cover-lite: hottest k-grams seed windows
    // extended while the covered grams stay hot, hottest bytes at
    // the smallest offsets), then compress the HELD-OUT documents
    // with it. Per blob: train on the d%3==0 docs, evaluate on the
    // rest; each eval doc is the real `documents.text` in a metadata
    // envelope. Laws: every held-out doc round-trips byte-exact
    // through the own compress/walk pair under the trained dict, and
    // the trained dictionary strictly beats dict-less compression
    // over the blob (training must generalize, not memorize); raw
    // sizes re-derive in DuckDB from the table itself. libzstd
    // accepts the same trained bytes as a raw dict (ZstdSpec).
    "q345_zstd_dict_training" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"), col("lang"), col("source"))
          .as[(Long, Long, String, String, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val E = graft.sources.ZstdEncode
            val Z = graft.sources.Zstd
            val rows = it.toSeq.sortBy(_._2)
            def envelope(text: String, lang: String,
                         source: String): Array[Byte] =
              (s"{'src': '$source', 'lang': '$lang', " +
                s"'text': '$text'}").getBytes("UTF-8")
            val (trainRows, evalRows) =
              rows.partition(r => (r._2 / 6) % 3 == 0)
            val dict = E.trainDict(
              trainRows.map(r => envelope(r._3, r._4, r._5)),
              maxSize = 4096)
            var rawSum = 0L
            var dictSum = 0L
            var plainSum = 0L
            var rt = dict.nonEmpty
            evalRows.foreach { r =>
              val doc = envelope(r._3, r._4, r._5)
              rawSum += doc.length
              val z = E.compressWithDict(doc, dict)
              dictSum += z.length
              plainSum += E.compress(doc).length
              if (!Z.walkWithDict(z, dict).exists(fr =>
                fr.length == 1 && fr.head.checksumState == "ok" &&
                  java.util.Arrays.equals(fr.head.decoded, doc)))
                rt = false
            }
            if (!(rt && dictSum < plainSum)) Nil
            else Seq((blobId, trainRows.length.toLong,
              evalRows.length.toLong, rawSum, 1L, 1L))
          }
          .toDF("blob_id", "n_train", "n_eval", "raw_len_sum",
            "rt_exact", "trained_beats_plain")
      },
      // envelope fixed chars = 35; strings re-derived per row
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 35 + length(source) + length(lang) + length(text)
                   AS rlen
          FROM documents)
        SELECT blob_id,
               CAST(sum(CASE WHEN (d // 6) % 3 = 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_eval,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN rlen ELSE 0
                 END) AS BIGINT) AS raw_len_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS trained_beats_plain
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q346 -- SHARD COMPACTION, the maintenance pass every
    // micro-batched sink needs (q331 writes batches x bins files; at
    // 100 TB the listing alone becomes the bottleneck and the
    // dataloader pays a seek per tiny file). Per bin, in the bin's
    // own task: decode every batch shard through the engine's own
    // reader (ShardSink.decodeShard -- nulls reconstructed from def
    // levels), merge last-batch-wins by doc_id, rewrite ONE
    // compacted shard with the SAME own writer (tight footer stats
    // preserved, so the q331 pruning story is unchanged), land
    // atomically, commit the compaction manifest only after every
    // bin has. Laws in the compared output: the compacted table
    // answers identically to the pre-compaction union (every column
    // family: text bytes, lang/score nulls, token ids), n_inputs per
    // bin collapses to the batch count (re-derived in DuckDB as the
    // distinct parities), footer min/max stay tight, and a SECOND
    // compaction pass rewrites byte-identical shards
    // (compact_stable -- the crashed-maintenance-job replay law).
    "q346_shard_compaction" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val K = graft.streaming.ShardSink
        val root = org.apache.spark.graft.TempDirs
          .create("graft_q346").toString
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))
        K.shardBatch(d.filter(col("doc_id") % 2 === 0), 0L, root, 128L)
        K.shardBatch(d.filter(col("doc_id") % 2 === 1), 1L, root, 128L)
        val c1 = K.compactBatches(s, root, 0L)
          .withColumnRenamed("shard_md5", "md5_a")
        val c2 = K.compactBatches(s, root, 0L)
          .select(col("bin"), col("shard_md5").as("md5_b"))
        val decoded = s.read.format("binaryFile")
          .load(root + "/shards/compacted=0/bin=*.parquet")
          .select(regexp_extract(col("path"), "bin=(\\d+)", 1)
            .cast("long").as("bin"), col("content"))
          .as[(Long, Array[Byte])]
          .flatMap { case (bin, bytes) =>
            val P = graft.sources.Parquet
            P.parseFooter(bytes).toSeq.flatMap { fm =>
              val cs = fm.rowGroups.head.cols
              val bounds = cs.find(_.path == "doc_id").flatMap { c =>
                for { mn <- c.minLong; mx <- c.maxLong } yield (mn, mx)
              }
              def cells(p: String) = {
                val (dl, rl) = fm.leafLevels(p)
                cs.find(_.path == p)
                  .flatMap(cc => P.readChunkCells(bytes, cc, dl, rl))
              }
              (bounds, cells("doc_id"), cells("text"), cells("lang"),
                cells("score"), cells("toks.list.element")) match {
                case (Some((mn, mx)), Some(ic), Some(tc), Some(lc),
                  Some(sc), Some(kc)) =>
                  Seq((bin, ic.longs.length.toLong, ic.longs.sum,
                    tc.bins.map(_.length.toLong).sum,
                    lc.defs.count(_ == 0).toLong,
                    lc.bins.map(_.length.toLong).sum,
                    sc.defs.count(_ == 0).toLong, sc.longs.sum,
                    kc.defs.length.toLong, kc.longs.sum, mn, mx))
                case _ => Nil
              }
            }
          }.toDF("bin", "n_rows", "id_sum", "txt_len_sum",
            "n_lang_null", "lang_len_sum", "n_score_null",
            "score_sum", "tok_slots", "tok_sum", "stat_min",
            "stat_max")
        c1.join(c2, Seq("bin")).join(decoded, Seq("bin"))
          .select(col("bin"), col("n_inputs"), col("n_rows"),
            col("id_sum"), col("txt_len_sum"), col("n_lang_null"),
            col("lang_len_sum"), col("n_score_null"), col("score_sum"),
            col("tok_slots"), col("tok_sum"), col("stat_min"),
            col("stat_max"),
            when(col("md5_a") === col("md5_b") &&
              col("n_docs") === col("n_rows"), 1L).otherwise(0L)
              .as("compact_stable"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, text, lang, n_chars, doc_id // 128 AS bin
          FROM documents),
        tok AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(sum(CAST('0x' || substr(md5('tok:' || t), 1, 15)
                   AS BIGINT) % 50257) AS BIGINT) AS t_sum
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
          GROUP BY doc_id)
        SELECT d.bin,
               CAST(count(DISTINCT d.doc_id % 2) AS BIGINT)
                 AS n_inputs,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
               CAST(sum(octet_length(encode(d.text))) AS BIGINT)
                 AS txt_len_sum,
               CAST(sum(CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_lang_null,
               CAST(sum(CASE WHEN d.doc_id % 7 = 0 THEN 0
                 ELSE octet_length(encode(d.lang)) END) AS BIGINT)
                 AS lang_len_sum,
               CAST(sum(CASE WHEN d.doc_id % 11 = 3 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_score_null,
               CAST(sum(CASE WHEN d.doc_id % 11 = 3 THEN 0
                 ELSE d.n_chars END) AS BIGINT) AS score_sum,
               CAST(sum(tk.n_tok) AS BIGINT) AS tok_slots,
               CAST(sum(tk.t_sum) AS BIGINT) AS tok_sum,
               CAST(min(d.doc_id) AS BIGINT) AS stat_min,
               CAST(max(d.doc_id) AS BIGINT) AS stat_max,
               CAST(1 AS BIGINT) AS compact_stable
        FROM d JOIN tok tk ON tk.doc_id = d.doc_id
        GROUP BY d.bin"""),
      headline = false),

    // q348 -- ORC TEMPORAL + DECIMAL columns, write side (the reader
    // has decoded both since the r12 skip-stack work): the ledger
    // schema every transactions/telemetry corpus ships -- TIMESTAMP
    // as signed-RLEv2 seconds from the 2015 ORC epoch plus
    // trailing-zero-packed nanos (pre-epoch instants exercise the
    // floor law: seconds floored, nanos kept non-negative), DECIMAL
    // as unbounded zigzag varints with an RLEv2 scale stream. The
    // engine writes the ledger (timestamps incl. pre-epoch rows,
    // NEGATIVE decimal amounts, a dict-encoded kind column), reads
    // it back with its own stripe decoders (micros byte-exact,
    // (unscaled, scale) pairs with the scale law pinned), and the
    // sums re-derive in DuckDB. orc-core (spark.read.orc)
    // cross-reads the same writer output in OrcSpec -- timestamps as
    // instants, decimals rescaled to the declared (18,2).
    "q348_orc_temporal_decimal_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.OrcWrite
          val Epoch2015Us = 1420070400000000L
          def tsOf(d: Long): Long =
            if (d % 9 == 0) Epoch2015Us - d * 1000000L - 500000L
            else 1700000000000000L + d * 1000000L +
              (d % 1000) * 1000L
          def amtOf(d: Long): Long = (d * 37) % 100000L - 5000L
          val cols = Seq(
            W.OLongCol("event_id", ids.map(Some(_))),
            W.OTimestampCol("ts", ids.map(tsOf)),
            W.ODecimalCol("amount", ids.map(amtOf), scale = 2),
            W.ODictStringCol("kind", ids.map(d =>
              Some(s"k${d % 5}"))))
          val bytes = W.writeTable(cols)
          val snappy = W.writeTable(cols, compression = 2)
          val O = graft.sources.Orc
          O.parseTail(snappy).toSeq.flatMap { t =>
            if (t.typeKinds != Seq(12, 4, 9, 14, 7)) Nil
            else {
              val st = t.stripes.head
              (O.stripeColumnLongs(snappy, t, st, 1),
                O.stripeColumnTimestampMicros(snappy, t, st, 2),
                O.stripeColumnDecimals(snappy, t, st, 3),
                O.stripeColumnStrings(snappy, t, st, 4)) match {
                case (Some(evs), Some(tss), Some((uns, scs)),
                  Some(kinds))
                  if evs.toSeq == ids &&
                    tss.toSeq == ids.map(tsOf) &&
                    uns.toSeq == ids.map(amtOf) &&
                    scs.forall(_ == 2L) &&
                    kinds.toSeq == ids.map(d => s"k${d % 5}") =>
                  Seq((blobId, ids.length.toLong, ids.sum,
                    tss.sum, uns.sum, 2L,
                    kinds.distinct.length.toLong,
                    if (snappy.length < bytes.length) 1L else 0L))
                case _ => Nil
              }
            }
          }
        }.toDF("blob_id", "n_rows", "id_sum", "ts_sum", "amount_sum",
            "dec_scale", "n_kinds", "snappy_smaller")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 CASE WHEN doc_id % 9 = 0
                   THEN 1420070400000000 - doc_id * 1000000 - 500000
                   ELSE 1700000000000000 + doc_id * 1000000
                     + (doc_id % 1000) * 1000 END AS ts_us,
                 (doc_id * 37) % 100000 - 5000 AS amt
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(ts_us) AS BIGINT) AS ts_sum,
               CAST(sum(amt) AS BIGINT) AS amount_sum,
               CAST(2 AS BIGINT) AS dec_scale,
               CAST(least(count(DISTINCT d % 5), 5) AS BIGINT)
                 AS n_kinds,
               CAST(1 AS BIGINT) AS snappy_smaller
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q349 -- the zstd SEEKABLE format (contrib seekable_format.md),
    // both directions engine-owned: the xz seek index (q337) and the
    // WARC CDX (q343) story on the zstd layer. Plain concatenated
    // zstd forces a serial decompress; the seekable layout -- one
    // independent frame per chunk plus a SKIPPABLE seek-table frame
    // (per-frame compressed/decompressed sizes, the 0x8F92EAB1
    // footer) -- lets a 1000-task scan jump to frame k and decode it
    // alone. Per blob the corpus is split into 4 range chunks; laws:
    // the parsed table's sizes TILE the payload exactly and match
    // the chunk lengths (decompressed sizes are oracled per
    // quartile), random access to each frame returns its chunk
    // byte-exact while decoding ONLY that frame, and the own generic
    // walk replays the full stream (4 zstd frames + 1 skippable) to
    // the same bytes. libzstd streams the same file end-to-end in
    // ZstdSpec.
    "q349_zstd_seekable" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val K = graft.sources.ZstdSeekable
            val Z = graft.sources.Zstd
            val rows = it.toSeq.sortBy(_._2)
            val n = rows.length
            val chunks = (0 until 4).map { q =>
              rows.zipWithIndex.collect {
                case ((_, d, text), i) if i * 4 / n == q =>
                  s"D$d:$text\n"
              }.mkString.getBytes("UTF-8")
            }
            val b = K.write(chunks)
            val out = for {
              table <- K.parse(b)
              if table.length == 4 &&
                table.map(_.decompressedSize) ==
                  chunks.map(_.length.toLong)
              fetched <- {
                val fs = table.map(e => K.frame(b, e))
                if (fs.exists(_.isEmpty)) None
                else Some(fs.map(_.get))
              }
              if fetched.zip(chunks).forall { case (g, c) =>
                java.util.Arrays.equals(g, c) }
              frames <- Z.walk(b)
              if frames.count(_.kind == "zstd") == 4 &&
                frames.count(_.kind == "skip") == 1 &&
                java.util.Arrays.equals(
                  frames.filter(_.kind == "zstd")
                    .toArray.flatMap(_.decoded),
                  chunks.toArray.flatten)
            } yield (0 until 4).map { q =>
              val nd = rows.zipWithIndex.count(_._2 * 4 / n == q)
              (blobId, q.toLong, nd.toLong,
                chunks(q).length.toLong, 1L, 1L)
            }
            out.toSeq.flatten
          }
          .toDF("blob_id", "quartile", "n_docs", "chunk_len",
            "fetch_exact", "replay_exact")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d, text,
                 CAST(((row_number() OVER (PARTITION BY doc_id % 6
                   ORDER BY doc_id) - 1) * 4) //
                   count(*) OVER (PARTITION BY doc_id % 6) AS BIGINT)
                   AS quartile
          FROM documents)
        SELECT blob_id, quartile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length('D' || d || ':') +
                 octet_length(encode(text)) + 1) AS BIGINT)
                 AS chunk_len,
               CAST(1 AS BIGINT) AS fetch_exact,
               CAST(1 AS BIGINT) AS replay_exact
        FROM r GROUP BY blob_id, quartile"""),
      headline = false),

    // q350 -- parquet PAGE CHECKSUMS, write side (PARQUET-2126; the
    // reader has enforced recorded CRCs since the page-index work):
    // at 100 TB, bit rot is a WHEN -- and an UNCOMPRESSED PLAIN page
    // has no other integrity: a flipped payload byte decodes
    // silently into a wrong sum. The engine now writes the CRC-32
    // field in every page header (v1 data, v2 data, dictionary --
    // over exactly the bytes after the header, the span the reader's
    // crcOk covers), opt-in so every md5-pinned layout stays frozen.
    // The oracled law is the CONTRAST: sweeping single-byte flips
    // over the page region, the CRC'd file NEVER yields a silently
    // different answer (every flip is caught or harmless), while the
    // CRC-less twin provably CAN be silently corrupted
    // (silent_possible=1) -- the failure mode the checksum exists
    // for, demonstrated on the engine's own bytes.
    "q350_parquet_page_crc_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val n = ids.length
          val fields = Seq(
            W.Leaf("doc_id", 0, 2),
            W.Leaf("tag", 0, 6, convertedType = 0))
          val data = Seq(
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.toArray),
            W.LeafData(Array.fill(n)(0), null,
              bins = ids.map(d => s"t${d % 7}".getBytes("UTF-8"))
                .toArray, dict = true))
          val crcd = W.writeFile(fields, data, withCrc = true)
          val plain = W.writeFile(fields, data)
          def sums(b: Array[Byte]): Option[(Long, Long)] =
            for {
              rs <- P.columnLongs(b, "doc_id")
              ts <- P.columnStrings(b, "tag")
            } yield (rs.sum, ts.map(_.length.toLong).sum)
          val want = sums(crcd)
          val rt = want.isDefined && sums(plain) == want
          // flip sweep over the page region (everything before the
          // footer is pages here); the files differ in length --
          // each sweeps its own bound
          def silentFlips(b: Array[Byte]): Int = {
            var count = 0
            var i = 4
            val end = math.min(b.length - 8, 2048)
            while (i < end) {
              val bad = b.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
              sums(bad) match {
                case Some(v) if want.contains(v) => ()
                case Some(_) => count += 1
                case None => ()
              }
              i += 3
            }
            count
          }
          val crcSilent = silentFlips(crcd)
          val plainSilent = silentFlips(plain)
          (want, rt) match {
            case (Some((idSum, tagLen)), true)
              if crcSilent == 0 && plainSilent > 0 =>
              Seq((blobId, n.toLong, idSum, tagLen, 1L, 1L))
            case _ => Nil
          }
        }.toDF("blob_id", "n_rows", "id_sum", "tag_len_sum",
            "crc_catches_all", "silent_possible_without")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(length('t' || (d % 7))) AS BIGINT)
                 AS tag_len_sum,
               CAST(1 AS BIGINT) AS crc_catches_all,
               CAST(1 AS BIGINT) AS silent_possible_without
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q351 -- BGZF, blocked gzip with random access (SAM/BAM spec
    // 4.1, htslib's format -- and the answer to "our corpus is
    // .gz, can we split it?"): every block is a complete gzip member
    // whose FEXTRA 'BC' subfield carries BSIZE, so a scanner STRIDES
    // member to member without inflating a byte, and a virtual
    // offset (coffset<<16 | uoffset) addresses any uncompressed byte
    // with one block decode. Both directions engine-owned (members
    // through the own DEFLATE encoder; the walk through the FEXTRA
    // framing the gzip reader already speaks). Laws: the stride walk
    // tiles the file exactly and ends at the spec's fixed EOF marker
    // (a cut file is INCOMPLETE, not shorter), block counts and
    // uncompressed sizes re-derive in DuckDB, a mid-block virtual
    // fetch spanning a block boundary returns the exact substring,
    // and the full block-by-block replay equals the corpus.
    // GZIPInputStream (the reference multi-member reader) decodes
    // the same bytes in GzipSpec.
    "q351_bgzf_random_access_gzip" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val B = graft.sources.Bgzf
            val rows = it.toSeq.sortBy(_._2)
            val data = rows.map { case (_, d, t) => s"D$d:$t\n" }
              .mkString.getBytes("UTF-8")
            val bz = B.write(data, blockSize = 2048)
            val out = for {
              bs <- B.blocks(bz)
              if bs.length == (data.length + 2047) / 2048 &&
                bs.map(_.isize).sum == data.length.toLong &&
                bs.head.coffset == 0L &&
                bs.zip(bs.drop(1)).forall { case (x, y) =>
                  x.coffset + x.bsize == y.coffset }
              // full replay: block-by-block own decode == corpus
              replay <- {
                val acc = new java.io.ByteArrayOutputStream()
                val parts = bs.map(e => B.blockData(bz, e))
                if (parts.exists(_.isEmpty)) None
                else {
                  parts.foreach(p => acc.write(p.get, 0, p.get.length))
                  Some(acc.toByteArray)
                }
              }
              if java.util.Arrays.equals(replay, data)
              // virtual fetch across a block boundary
              fetched <- {
                if (bs.length < 2) Some(Array.emptyByteArray)
                else B.virtualFetch(bz,
                  (bs(0).coffset << 16) | 1500L,
                  math.min(1500, data.length - 1500))
              }
              if bs.length < 2 || java.util.Arrays.equals(fetched,
                java.util.Arrays.copyOfRange(data, 1500,
                  1500 + math.min(1500, data.length - 1500)))
              // a file cut before the EOF marker is incomplete
              if B.blocks(java.util.Arrays.copyOf(bz,
                bz.length - B.EofMarker.length)).isEmpty
            } yield (blobId, bs.length.toLong, data.length.toLong,
              1L, 1L, 1L)
            out.toSeq
          }
          .toDF("blob_id", "n_blocks", "total_len", "fetch_exact",
            "replay_exact", "eof_law")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id,
                 length('D' || doc_id || ':') +
                   octet_length(encode(text)) + 1 AS rlen
          FROM documents)
        SELECT blob_id,
               CAST((sum(rlen) + 2047) // 2048 AS BIGINT) AS n_blocks,
               CAST(sum(rlen) AS BIGINT) AS total_len,
               CAST(1 AS BIGINT) AS fetch_exact,
               CAST(1 AS BIGINT) AS replay_exact,
               CAST(1 AS BIGINT) AS eof_law
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q353 — parquet MODULAR ENCRYPTION, AES_GCM_V1, both directions
    // (parquet-format Encryption.md): at 100 TB with PII/takedown
    // obligations the governance layer the format defines is
    // column-level crypto — encrypted footer ("PARE"), every page
    // and page header an AES-GCM module with ordinal-bound AAD, one
    // column under its OWN key (encrypted_column_metadata, plain
    // meta omitted — the parquet-mr shape; ParquetCryptoSpec
    // cross-reads these bytes through parquet-mr's official crypto
    // classes). Laws in the compared output: decrypt∘encrypt is the
    // byte IDENTITY on the engine's own writer output (identity_ok),
    // the decrypted bytes decode to DuckDB-re-derived sums, module
    // count matches the page arithmetic (n_modules — 2 modules per
    // page, dict pair, footer), and tampering fails CLOSED: a
    // flipped ciphertext byte inside the first data-page module,
    // the wrong footer key, and a MISSING column key each yield
    // None, never plaintext garbage.
    "q353_parquet_encryption" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val C = graft.sources.ParquetCrypto
          val n = ids.length
          def md5(x: String): Array[Byte] =
            Md5Hashes.digest(x.getBytes("UTF-8"))
          val footerKey = md5("pqenc:" + ids.mkString(","))
          val valKey = md5("pqenccol:" + ids.mkString(","))
          val aadUnique = md5("pqencaad:" + ids.mkString(","))
            .take(8)
          val fields = Seq(
            W.Leaf("rec_id", 0, 2),
            W.Leaf("val", 0, 2),
            W.Leaf("cat", 0, 6, convertedType = 0))
          val data = Seq(
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.toArray),
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.map(d => (d * 29) % 1021).toArray),
            W.LeafData(Array.fill(n)(0), null,
              bins = ids.map(d => s"c${d % 3}".getBytes("UTF-8"))
                .toArray, dict = true))
          val plain = W.writeFile(fields, data, pageRows = 32)
          val res = C.encryptFileDeterministic(plain,
            C.Keys(footerKey, Map("val" -> valKey)), aadUnique)
          res.toSeq.flatMap { enc =>
            val colKeys = Map("k:val" -> valKey)
            val back = C.decryptFile(enc.bytes, footerKey, colKeys)
            val identityOk = back.exists(
              java.util.Arrays.equals(_, plain))
            // tamper: flip a ciphertext byte mid first data page
            val pm = enc.modules
              .find(m => m.modType == C.ModDataPage)
            val flipClosed = pm.exists { m =>
              val x = enc.bytes.clone()
              x(m.off + m.len / 2) =
                (x(m.off + m.len / 2) ^ 0x01).toByte
              C.decryptFile(x, footerKey, colKeys).isEmpty
            }
            val wrongClosed = C.decryptFile(enc.bytes,
              footerKey.reverse, colKeys).isEmpty
            val missingClosed =
              C.decryptFile(enc.bytes, footerKey).isEmpty
            val sums = back.flatMap { b =>
              for {
                rs <- P.columnLongs(b, "rec_id")
                vs <- P.columnLongs(b, "val")
                cs <- P.columnStrings(b, "cat")
                if rs.length == vs.length && cs.length == rs.length
              } yield (rs.length.toLong, rs.sum, vs.sum,
                cs.map(_.length.toLong).sum)
            }
            sums.toSeq.map { case (nr, idSum, valSum, catLen) =>
              (t, enc.modules.length.toLong, nr, idSum, valSum,
                catLen,
                if (identityOk) 1L else 0L,
                if (flipClosed) 1L else 0L,
                if (wrongClosed) 1L else 0L,
                if (missingClosed) 1L else 0L)
            }
          }
        }.toDF("table_id", "n_modules", "n_rows", "id_sum",
            "val_sum", "cat_len_sum", "identity_ok", "flip_closed",
            "wrongkey_closed", "missingkey_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d FROM documents)
        SELECT table_id,
               CAST(6 * CEIL(count(*) / 32.0) + 3 AS BIGINT)
                 AS n_modules,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum((d * 29) % 1021) AS BIGINT) AS val_sum,
               CAST(2 * count(*) AS BIGINT) AS cat_len_sum,
               CAST(1 AS BIGINT) AS identity_ok,
               CAST(1 AS BIGINT) AS flip_closed,
               CAST(1 AS BIGINT) AS wrongkey_closed,
               CAST(1 AS BIGINT) AS missingkey_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q354 — BROTLI (RFC 7932) from scratch + parquet codec 4,
    // closing the LAST absent parquet codec (1/2/5/6/7 were already
    // own-code): the fixture carries REAL libbrotli streams at
    // quality 1 / 6 / 11 over per-blob document payloads (q11
    // output uses the static dictionary and word transforms) plus a
    // pyarrow-written parquet file whose pages are BROTLI-compressed
    // (codec 4). Laws in the compared output: every quality decodes
    // BYTE-EXACT to the locally rebuilt payload (md5 re-derived in
    // DuckDB from the same string), the codec-4 parquet decodes
    // through the own reader via the own brotli (sums re-derived;
    // footer must actually SAY codec 4), and a truncated stream
    // fails CLOSED. Scale shape: one bounded fixture join, all
    // decode work in executor tasks.
    "q354_brotli_decode" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val blobs = Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .mapGroups { (b, it) =>
            val rows = it.map(x => (x._2, x._3)).toSeq.sortBy(_._1)
            val payload = rows
              .map { case (d, t) => s"D$d:$t\n" }
              .mkString.getBytes("UTF-8")
            // content-keyed: same doc_ids carry different texts at
            // different scale factors
            val key = md5Hex("brotli:".getBytes("UTF-8") ++ payload)
            (b, key, payload)
          }
          .toDF("blob_id", "blob_key", "payload")
        blobs
          .transform(Blobs.join(_, "brotli_files.parquet"))
          .select(col("blob_id"), col("payload"), col("kind"),
            col("file_bytes"))
          .as[(Long, Array[Byte], String, Array[Byte])]
          .groupByKey(_._1)
          .flatMapGroups { (b, it) =>
            val all = it.toSeq
            val payload = all.head._2
            val byKind = all.map(x => (x._3, x._4)).toMap
            val B = graft.sources.Brotli
            val P = graft.sources.Parquet
            def exact(kind: String): Long =
              if (byKind.get(kind).flatMap(B.decode(_))
                .exists(java.util.Arrays.equals(_, payload))) 1L
              else 0L
            val q11md5 = byKind.get("q11").flatMap(B.decode(_))
              .map(o => md5Hex(o))
              .getOrElse("")
            val dmgClosed =
              if (byKind.get("q11").forall(x => B.decode(
                java.util.Arrays.copyOf(x, x.length / 2)).isEmpty))
                1L
              else 0L
            val res = for {
              pq <- byKind.get("parquet")
              fm <- P.parseFooter(pq)
              codec4 = fm.rowGroups.flatMap(_.cols)
                .forall(_.codec == P.CodecBrotli)
              rs <- P.columnLongs(pq, "rec_id")
              vs <- P.columnLongs(pq, "val")
              ts <- P.columnStrings(pq, "txt")
              if rs.length == vs.length && ts.length == rs.length
            } yield (b, exact("q1"), exact("q6"), exact("q11"),
              q11md5, payload.length.toLong, dmgClosed,
              if (codec4) 1L else 0L, rs.length.toLong, rs.sum,
              vs.sum,
              ts.map(_.getBytes("UTF-8").length.toLong).sum)
            res.toSeq
          }
          .toDF("blob_id", "q1_exact", "q6_exact", "q11_exact",
            "q11_md5", "raw_len", "damage_closed", "pq_codec4",
            "pq_rows", "pq_id_sum", "pq_val_sum", "pq_txt_len")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d, text
          FROM documents),
        p AS (
          SELECT blob_id,
                 string_agg('D' || d || ':' || text || chr(10), ''
                   ORDER BY d) AS payload
          FROM r GROUP BY blob_id),
        a AS (
          SELECT blob_id,
                 CAST(count(*) AS BIGINT) AS pq_rows,
                 CAST(sum(d) AS BIGINT) AS pq_id_sum,
                 CAST(sum((d * 37) % 1031) AS BIGINT) AS pq_val_sum,
                 CAST(sum(octet_length(encode(text))) AS BIGINT)
                   AS pq_txt_len
          FROM r GROUP BY blob_id)
        SELECT a.blob_id,
               CAST(1 AS BIGINT) AS q1_exact,
               CAST(1 AS BIGINT) AS q6_exact,
               CAST(1 AS BIGINT) AS q11_exact,
               md5(p.payload) AS q11_md5,
               CAST(octet_length(encode(p.payload)) AS BIGINT)
                 AS raw_len,
               CAST(1 AS BIGINT) AS damage_closed,
               CAST(1 AS BIGINT) AS pq_codec4,
               a.pq_rows, a.pq_id_sum, a.pq_val_sum, a.pq_txt_len
        FROM a JOIN p ON a.blob_id = p.blob_id"""),
      headline = false),

    // q356 — Iceberg PUFFIN statistics, write + read (puffin-spec +
    // apache-datasketches-theta-v1): the sidecar a 1000-executor
    // planner reads BEFORE scanning 100 TB — per-column NDV sketches
    // keyed to a snapshot decide which join side broadcasts without
    // touching data. The engine writes its own puffin container AND
    // its own compact theta sketches (murmur x64-128, the library's
    // exact hash discipline — PuffinSpec cross-verifies the bytes
    // through datasketches-java both directions), registers them in
    // an Iceberg metadata `statistics` entry, then READS its own
    // bytes back: metadata walk -> statistics path -> footer JSON ->
    // sketch parse. Laws: exact-mode estimates EQUAL DuckDB's
    // count(DISTINCT) (theta is exact below k), the planning probe
    // picks the min-NDV side from sketches alone (re-derived in
    // DuckDB per blob — data-driven, not a constant), the recorded
    // footer size matches, and a flipped magic byte fails closed.
    "q356_iceberg_puffin_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import graft.sources.Json.{JArray, JLong, JObject, JString}
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val P = graft.sources.Puffin
          val T = graft.sources.ThetaSketch
          val J = graft.sources.Json
          val sid = 3000L + t
          def jstr(x: String) = "\"" + x + "\""
          val cols = Seq(
            (1, ids),
            (2, ids.map(d => (d * 13) % 97)),
            (3, ids.map(d => (d / 6) % 23)))
          val blobs = cols.map { case (fid, vs) =>
            val sk = T.compact(vs)
            val ndv = T.parse(sk).map(_.estimate.round).getOrElse(-1L)
            P.Blob("apache-datasketches-theta-v1", Seq(fid), sid,
              1L, sk, Map("ndv" -> ndv.toString))
          }
          val puffin =
            P.write(blobs, Map("created-by" -> "graft engine"))
          val fsz = P.footerSize(puffin).getOrElse(-1)
          // iceberg metadata with the statistics entry (spec field
          // names), canonical JSON
          val statsPath = s"stats-$sid.puffin"
          val meta = (s"""{"current-snapshot-id": $sid, """ +
            s""""format-version": 2, "statistics": [{""" +
            s""""file-footer-size-in-bytes": $fsz, """ +
            s""""file-size-in-bytes": ${puffin.length}, """ +
            s""""snapshot-id": $sid, """ +
            s""""statistics-path": ${jstr(statsPath)}}]}""")
            .getBytes("UTF-8")
          val bundle = Map(
            "metadata.json" -> meta, statsPath -> puffin)
          // ---- read side: own walk over own bytes ----
          val res = for {
            m <- J.parse(new String(bundle("metadata.json"), "UTF-8"))
            mo <- Some(m).collect { case o: JObject => o }
            cur <- mo.get("current-snapshot-id")
              .collect { case JLong(x) => x }
            stats <- mo.get("statistics").collect {
              case JArray(xs) => xs.collect { case o: JObject => o }
            }
            entry <- stats.find(_.get("snapshot-id")
              .contains(JLong(cur)))
            path <- entry.get("statistics-path")
              .collect { case JString(x) => x }
            fileSz <- entry.get("file-size-in-bytes")
              .collect { case JLong(x) => x }
            ftrSz <- entry.get("file-footer-size-in-bytes")
              .collect { case JLong(x) => x }
            file <- bundle.get(path)
            if fileSz == file.length.toLong
            (metas, _) <- P.read(file)
            if metas.length == 3
          } yield {
            val footerOk =
              P.footerSize(file).contains(ftrSz.toInt) &&
                metas.forall(b =>
                  b._1.snapshotId == cur &&
                    b._1.tpe == "apache-datasketches-theta-v1")
            val ndvs = metas.map { case (bm, bytes) =>
              val est = T.parse(bytes).map(_.estimate.round)
                .getOrElse(-1L)
              // the recorded ndv property must agree w/ the sketch
              (bm.fields.head,
                if (bm.properties.get("ndv")
                  .contains(est.toString)) est
                else -1L)
            }.toMap
            // planning probe: broadcast the min-NDV side (field 1
            // vs field 2), ties to the lower field id
            val bcast =
              if (ndvs(1) <= ndvs(2)) 1L else 2L
            val flipClosed = {
              val x = file.clone()
              x(0) = (x(0) ^ 0x01).toByte
              if (P.read(x).isEmpty) 1L else 0L
            }
            (t, ndvs(1), ndvs(2), ndvs(3), bcast,
              metas.length.toLong,
              if (footerOk) 1L else 0L, flipClosed)
          }
          res.toSeq
        }.toDF("table_id", "ndv_rec", "ndv_val", "ndv_grp",
            "broadcast_field", "n_blobs", "footer_ok", "flip_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d FROM documents),
        a AS (
          SELECT table_id,
                 CAST(count(DISTINCT d) AS BIGINT) AS ndv_rec,
                 CAST(count(DISTINCT (d * 13) % 97) AS BIGINT)
                   AS ndv_val,
                 CAST(count(DISTINCT (d // 6) % 23) AS BIGINT)
                   AS ndv_grp
          FROM r GROUP BY table_id)
        SELECT table_id, ndv_rec, ndv_val, ndv_grp,
               CAST(CASE WHEN ndv_rec <= ndv_val THEN 1 ELSE 2 END
                 AS BIGINT) AS broadcast_field,
               CAST(3 AS BIGINT) AS n_blobs,
               CAST(1 AS BIGINT) AS footer_ok,
               CAST(1 AS BIGINT) AS flip_closed
        FROM a"""),
      headline = false),

    // q358 — parquet codec 4, WRITE side (the twin of q354's reader):
    // the engine's own RFC 7932 ENCODER (sources/BrotliEncode —
    // greedy hash-chain LZ77, per-block Huffman codes serialized as
    // the spec's simple/complex prefix forms) compresses every page,
    // closing the LAST one-directional parquet codec — all six
    // codecs the format defines are now own-code BOTH ways
    // (BrotliSpec: libbrotlidec and pyarrow both decode own bytes).
    // Laws in the compared output: the own reader decodes the own
    // codec-4 file to DuckDB-re-derived sums, the footer actually
    // SAYS codec 4, the decode equals the UNCOMPRESSED twin's decode
    // exactly (equal_plain — same rows through a different byte
    // path), and the text corpus genuinely compresses.
    "q358_parquet_brotli_write" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val W = graft.sources.ParquetWrite
            val P = graft.sources.Parquet
            val rows = it.map(x => (x._2, x._3)).toSeq.sortBy(_._1)
            val n = rows.length
            val fields = Seq(
              W.Leaf("rec_id", 0, 2),
              W.Leaf("txt", 0, 6, convertedType = 0))
            val data = Seq(
              W.LeafData(Array.fill(n)(0), null,
                longs = rows.map(_._1).toArray),
              W.LeafData(Array.fill(n)(0), null,
                bins = rows.map(_._2.getBytes("UTF-8")).toArray))
            val br = W.writeFile(fields, data, codec = 4,
              pageRows = 32)
            val plain = W.writeFile(fields, data, pageRows = 32)
            def decode(b: Array[Byte])
                : Option[(Long, Long, Long)] =
              for {
                rs <- P.columnLongs(b, "rec_id")
                ts <- P.columnStrings(b, "txt")
                if ts.length == rs.length
              } yield (rs.length.toLong, rs.sum,
                ts.map(_.getBytes("UTF-8").length.toLong).sum)
            val codec4 = P.parseFooter(br).exists(
              _.rowGroups.flatMap(_.cols)
                .forall(_.codec == P.CodecBrotli))
            (decode(br), decode(plain)) match {
              case (Some((nr, idSum, txtLen)), Some(p)) =>
                Seq((blobId, nr, idSum, txtLen,
                  if (codec4) 1L else 0L,
                  if (p == ((nr, idSum, txtLen))) 1L else 0L,
                  if (br.length < plain.length) 1L else 0L))
              case _ => Nil
            }
          }
          .toDF("blob_id", "n_rows", "id_sum", "txt_len_sum",
            "codec4_ok", "equal_plain", "compresses")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d, text
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(octet_length(encode(text))) AS BIGINT)
                 AS txt_len_sum,
               CAST(1 AS BIGINT) AS codec4_ok,
               CAST(1 AS BIGINT) AS equal_plain,
               CAST(1 AS BIGINT) AS compresses
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q359 — parquet encryption, AES_GCM_CTR_V1 (the spec's SECOND
    // algorithm — CTR page bodies for throughput, GCM everywhere
    // integrity lives: headers, column metadata, footer). The
    // engine writes and reads both algorithms (the reader picks the
    // mode from FileCryptoMetaData — self-describing bytes);
    // ParquetCryptoSpec cross-reads CTR files through parquet-mr's
    // official crypto classes. The oracled law is q350's CONTRAST
    // shape, here demonstrating the mode's documented trade: a
    // flipped byte in a GCM-protected header still fails CLOSED,
    // while a flipped byte in a CTR page body decrypts SILENTLY to
    // different data (no tag to fail) — exactly why GCM_V1 is the
    // default and CTR the eyes-open opt-in. Identity, sums and the
    // 16-byte-per-page size saving re-derive in DuckDB.
    "q359_parquet_encryption_ctr" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.ParquetWrite
          val P = graft.sources.Parquet
          val C = graft.sources.ParquetCrypto
          val n = ids.length
          def md5(x: String): Array[Byte] =
            Md5Hashes.digest(x.getBytes("UTF-8"))
          val footerKey = md5("pqctr:" + ids.mkString(","))
          val valKey = md5("pqctrcol:" + ids.mkString(","))
          val aadUnique = md5("pqctraad:" + ids.mkString(","))
            .take(8)
          val fields = Seq(
            W.Leaf("rec_id", 0, 2), W.Leaf("val", 0, 2))
          val data = Seq(
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.toArray),
            W.LeafData(Array.fill(n)(0), null,
              longs = ids.map(d => (d * 41) % 1033).toArray))
          val plain = W.writeFile(fields, data, pageRows = 32)
          val keys = C.Keys(footerKey, Map("val" -> valKey))
          val colKeys = Map("k:val" -> valKey)
          val res = for {
            ctrE <- C.encryptFileDeterministic(plain, keys,
              aadUnique, ctr = true)
            gcmE <- C.encryptFileDeterministic(plain, keys,
              aadUnique)
            back <- C.decryptFile(ctrE.bytes, footerKey, colKeys)
          } yield {
            val identityOk =
              java.util.Arrays.equals(back, plain)
            // each page body saves AT LEAST the 16-byte GCM tag; a
            // lower bound (not equality) because the patched
            // compressed_page_size varints (plain+32 GCM vs
            // plain+16 CTR) and the footer's totalCompressed can
            // straddle a zigzag-varint length boundary on small
            // tail pages, adding a byte or two to the GCM side
            val nPages = ctrE.modules.count(m =>
              m.modType == C.ModDataPage ||
                m.modType == C.ModDictPage)
            val sizeGapOk = gcmE.bytes.length - ctrE.bytes.length >=
              16 * nPages
            val hm = ctrE.modules
              .find(_.modType == C.ModDataPageHeader).get
            val th = ctrE.bytes.clone()
            th(hm.off + hm.len / 2) =
              (th(hm.off + hm.len / 2) ^ 1).toByte
            val headerClosed =
              C.decryptFile(th, footerKey, colKeys).isEmpty
            val bm = ctrE.modules
              .find(_.modType == C.ModDataPage).get
            val tb = ctrE.bytes.clone()
            tb(bm.off + bm.len / 2) =
              (tb(bm.off + bm.len / 2) ^ 1).toByte
            val silent = C.decryptFile(tb, footerKey, colKeys)
            val silentPossible = silent.exists(
              !java.util.Arrays.equals(_, plain))
            val sums = for {
              rs <- P.columnLongs(back, "rec_id")
              vs <- P.columnLongs(back, "val")
              if rs.length == vs.length
            } yield (rs.length.toLong, rs.sum, vs.sum)
            sums.toSeq.map { case (nr, idSum, valSum) =>
              (t, nr, idSum, valSum,
                if (identityOk) 1L else 0L,
                if (sizeGapOk) 1L else 0L,
                if (headerClosed) 1L else 0L,
                if (silentPossible) 1L else 0L)
            }
          }
          res.toSeq.flatten
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "identity_ok", "size_gap_ok", "header_flip_closed",
            "body_flip_silent")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum((d * 41) % 1033) AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS identity_ok,
               CAST(1 AS BIGINT) AS size_gap_ok,
               CAST(1 AS BIGINT) AS header_flip_closed,
               CAST(1 AS BIGINT) AS body_flip_silent
        FROM r GROUP BY table_id"""),
      headline = false),

    // q363 — INCREMENTAL puffin statistics via theta UNION (the
    // maintenance leg of q356): when a snapshot lands, the new
    // statistics file is union(previous sketch, new-file sketch) —
    // NO rescan of 100 TB of existing data, the property that makes
    // per-snapshot NDV stats affordable at all. The engine's own
    // set-union over its own compact sketches (PuffinSpec pins it
    // against datasketches' own Union operator); in exact mode the
    // union is EXACT, so every estimate in the output — base
    // generation, new file, and the unioned snapshot-2 puffin — is
    // re-derived as a DuckDB count(DISTINCT). The overlap law
    // (union < base + new on the low-cardinality column) is
    // data-driven; union ≡ full rebuild is checked bytes-to-bytes.
    "q363_puffin_incremental_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val P = graft.sources.Puffin
          val T = graft.sources.ThetaSketch
          def v(d: Long): Long = (d * 13) % 61
          val gen0 = ids.filter(d => (d / 6) % 4 != 1)
          val gen1 = ids.filter(d => (d / 6) % 4 == 1)
          val skBaseId = T.compact(gen0)
          val skBaseV = T.compact(gen0.map(v))
          val skNewId = T.compact(gen1)
          val skNewV = T.compact(gen1.map(v))
          val res = for {
            uId <- T.union(Seq(skBaseId, skNewId))
            uV <- T.union(Seq(skBaseV, skNewV))
            // snapshot-2 statistics file carries the UNIONED blobs
            puffin = P.write(Seq(
              P.Blob("apache-datasketches-theta-v1", Seq(1), 2L,
                2L, uId),
              P.Blob("apache-datasketches-theta-v1", Seq(2), 2L,
                2L, uV)), Map("created-by" -> "graft engine"))
            (blobs, _) <- P.read(puffin)
            if blobs.length == 2
            rId <- T.parse(blobs(0)._2)
            rV <- T.parse(blobs(1)._2)
            rebuiltV <- Some(T.compact(ids.map(v)))
          } yield {
            val unionEqRebuild =
              if (java.util.Arrays.equals(uV, rebuiltV)) 1L else 0L
            val ndvBaseV = T.parse(skBaseV)
              .map(_.estimate.round).getOrElse(-1L)
            val ndvNewV = T.parse(skNewV)
              .map(_.estimate.round).getOrElse(-1L)
            (t, rId.estimate.round, rV.estimate.round, ndvBaseV,
              ndvNewV, unionEqRebuild,
              if (rV.estimate.round <
                ndvBaseV + ndvNewV) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "ndv_id_all", "ndv_v_all", "ndv_v_base",
            "ndv_v_new", "union_eq_rebuild", "overlap_law")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4, (doc_id * 13) % 61 AS v
          FROM documents)
        SELECT table_id,
               CAST(count(DISTINCT d) AS BIGINT) AS ndv_id_all,
               CAST(count(DISTINCT v) AS BIGINT) AS ndv_v_all,
               CAST(count(DISTINCT CASE WHEN gen4 <> 1 THEN v END)
                 AS BIGINT) AS ndv_v_base,
               CAST(count(DISTINCT CASE WHEN gen4 = 1 THEN v END)
                 AS BIGINT) AS ndv_v_new,
               CAST(1 AS BIGINT) AS union_eq_rebuild,
               CAST(1 AS BIGINT) AS overlap_law
        FROM r GROUP BY table_id"""),
      headline = false),

    // q365 — Avro LOGICAL TYPES, write + read (the Avro twin of
    // ORC's q348 ledger types): decimal (bytes payload = minimal
    // BIG-ENDIAN two's complement unscaled value — the sign
    // extension the classic reader bug truncates; negatives are half
    // the fixture), date (int epoch days) and timestamp-micros
    // (long), annotated in the schema the container itself carries.
    // Laws in the compared output: the own generic walk re-reads the
    // own container and every interpreted value re-derives in DuckDB
    // (cents sums over negatives, ISO min-date via DuckDB date
    // arithmetic, raw micros sums); the schema STRING carries all
    // three logicalType annotations (schema_ok); every decimal
    // payload is MINIMAL and re-encodes byte-identically
    // (minimal_ok — enc∘dec = id on own bytes).
    "q365_avro_logical_types" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val G = graft.sources.AvroGeneric
          val W = graft.sources.AvroWrite
          val J = graft.sources.Json
          def cents(d: Long): Long = (d * 7919) % 100000 - 50000
          def day(d: Long): Long = 19000 + (d % 700)
          def ts(d: Long): Long = 1700000000000000L + d * 1000003L
          val schema =
            """{"type":"record","name":"ledger","fields":[
              |{"name":"id","type":"long"},
              |{"name":"price","type":{"type":"bytes","logicalType":"decimal","precision":18,"scale":2}},
              |{"name":"day","type":{"type":"int","logicalType":"date"}},
              |{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}}
              |]}""".stripMargin.replaceAll("\n", "")
          val recs = ids.map { d =>
            val pb = W.decimalBytes(cents(d))
            G.VRecord(Vector(
              "id" -> G.VLong(d),
              "price" -> G.VBytes(pb.length, pb),
              "day" -> G.VLong(day(d)),
              "ts" -> G.VLong(ts(d))))
          }
          val bytes =
            W.container(schema, recs, "null", s"q365-$blobId", 256)
          val out = for {
            dec <- G.parseContainer(bytes)
            sj <- J.parse(dec.schemaJson)
            so <- Some(sj).collect { case o: J.JObject => o }
            fields <- so.get("fields").collect {
              case J.JArray(fs) => fs.collect {
                case f: J.JObject => f
              }
            }
            lt = fields.flatMap(f =>
              f.get("type").collect { case t: J.JObject =>
                t.get("logicalType")
                  .collect { case J.JString(x) => x }
              }.flatten)
          } yield {
            val schemaOk = lt.sorted ==
              Seq("date", "decimal", "timestamp-micros")
            var ok = dec.records.length == ids.length
            var minimalOk = true
            var n = 0L; var sumCents = 0L; var nNeg = 0L
            var minDay = Long.MaxValue; var sumTs = 0L
            dec.records.foreach { r =>
              val row = for {
                pb <- r.field("price").flatMap(_.asBytes)
                c <- G.decimalLong(pb)
                dy <- r.field("day").flatMap(_.asLong)
                t <- r.field("ts").flatMap(_.asLong)
              } yield {
                if (!java.util.Arrays.equals(
                  W.decimalBytes(c), pb)) minimalOk = false
                n += 1
                sumCents += c
                if (c < 0) nNeg += 1
                if (dy < minDay) minDay = dy
                sumTs += t
              }
              if (row.isEmpty) ok = false
            }
            if (!ok) Nil
            else Seq((blobId, n, sumCents, nNeg,
              java.time.LocalDate.ofEpochDay(minDay).toString,
              sumTs,
              if (schemaOk) 1L else 0L,
              if (minimalOk) 1L else 0L))
          }
          out.toSeq.flatten
        }.toDF("blob_id", "n_rows", "price_sum_cents", "n_neg",
            "min_day", "ts_sum", "schema_ok", "minimal_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id,
                 (doc_id * 7919) % 100000 - 50000 AS cents,
                 19000 + (doc_id % 700) AS day,
                 1700000000000000 + doc_id * 1000003 AS ts
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS price_sum_cents,
               CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_neg,
               strftime(DATE '1970-01-01' +
                 CAST(min(day) AS INTEGER), '%Y-%m-%d') AS min_day,
               CAST(sum(ts) AS BIGINT) AS ts_sum,
               CAST(1 AS BIGINT) AS schema_ok,
               CAST(1 AS BIGINT) AS minimal_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q366 — Avro SCHEMA RESOLUTION (reader-vs-writer evolution): the
    // single most-hit evolution path in production Avro — today's
    // reader schema opens years-old containers. Old-writer v1 ledgers
    // (q365's logical types included: decimal bytes, date int) are
    // read under an EVOLVED reader: fields reordered and matched by
    // name, legacy_tag skipped in the byte walk, day renamed to
    // event_day via a reader-side alias AND promoted int->long,
    // source/qty materialized from reader defaults (the lakehouse
    // twin of the reference's verify_columns contract —
    // import_files_to_postgre.py:67-73, null-column injection
    // :83-89), and the status enum resolved by symbol NAME with the
    // spec's >=1.9 enum default absorbing the retired RETURNED
    // symbol. Apache Avro's own GenericDatumReader runs the same
    // (writer bytes, reader schema) pair in the same task and must
    // agree value-for-value (apache_ok); an id long->int narrowing
    // reader must fail CLOSED (closed_ok). All aggregates re-derive
    // in DuckDB from the doc_id functions.
    "q366_avro_schema_resolution" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val G = graft.sources.AvroGeneric
          val R = graft.sources.AvroResolve
          val W = graft.sources.AvroWrite
          def cents(d: Long): Long = (d * 7919) % 100000 - 50000
          def day(d: Long): Long = 19000 + (d % 700)
          val writerJson =
            """{"type":"record","name":"ledger","fields":[
              |{"name":"id","type":"long"},
              |{"name":"price","type":{"type":"bytes","logicalType":"decimal","precision":18,"scale":2}},
              |{"name":"day","type":{"type":"int","logicalType":"date"}},
              |{"name":"status","type":{"type":"enum","name":"Status","symbols":["NEW","SHIPPED","RETURNED"]}},
              |{"name":"legacy_tag","type":"string"}
              |]}""".stripMargin.replaceAll("\n", "")
          val recs = ids.map { d =>
            val pb = W.decimalBytes(cents(d))
            G.VRecord(Vector(
              "id" -> G.VLong(d),
              "price" -> G.VBytes(pb.length, pb),
              "day" -> G.VLong(day(d)),
              "status" -> G.VEnum((d % 3).toInt),
              "legacy_tag" -> G.VString("t" + (d % 5))))
          }
          val bytes =
            W.container(writerJson, recs, "null", s"q366-$blobId", 256)
          val readerJson =
            """{"type":"record","name":"ledger","fields":[
              |{"name":"event_day","type":"long","aliases":["day"]},
              |{"name":"id","type":"long"},
              |{"name":"price","type":"bytes"},
              |{"name":"source","type":"string","default":"v1"},
              |{"name":"status","type":{"type":"enum","name":"Status","symbols":["OTHER","NEW","SHIPPED"],"default":"OTHER"}},
              |{"name":"qty","type":"long","default":0}
              |]}""".stripMargin.replaceAll("\n", "")
          val narrowJson =
            """{"type":"record","name":"ledger","fields":[
              |{"name":"id","type":"int"}]}"""
              .stripMargin.replaceAll("\n", "")
          val readerSymbols = Vector("OTHER", "NEW", "SHIPPED")
          val out = for {
            dec <- R.parseContainer(bytes, readerJson)
            if dec.records.length == ids.length
          } yield {
            val closedOk = R.parseContainer(bytes, narrowJson).isEmpty
            val apacheOk = try {
              import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
              import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
              val rs = new org.apache.avro.Schema.Parser()
                .parse(readerJson)
              val rd = new DataFileReader[GenericRecord](
                new SeekableByteArrayInput(bytes),
                new GenericDatumReader[GenericRecord](null, rs))
              var ok = true
              dec.records.foreach { r =>
                if (!rd.hasNext) ok = false
                else {
                  val a = rd.next()
                  val bb = a.get("price")
                    .asInstanceOf[java.nio.ByteBuffer]
                  val ab = new Array[Byte](bb.remaining())
                  bb.get(ab)
                  ok &&= r.field("id").flatMap(_.asLong)
                    .contains(a.get("id").asInstanceOf[Long])
                  ok &&= r.field("event_day").flatMap(_.asLong)
                    .contains(a.get("event_day").asInstanceOf[Long])
                  ok &&= r.field("price").flatMap(_.asBytes)
                    .exists(java.util.Arrays.equals(_, ab))
                  ok &&= r.field("source").flatMap(_.asString)
                    .contains(a.get("source").toString)
                  ok &&= r.field("qty").flatMap(_.asLong)
                    .contains(a.get("qty").asInstanceOf[Long])
                  ok &&= r.field("status").exists {
                    case G.VEnum(i) =>
                      readerSymbols(i) == a.get("status").toString
                    case _ => false
                  }
                }
              }
              ok &&= !rd.hasNext
              rd.close()
              ok
            } catch { case _: Exception => false }
            var n = 0L; var idSum = 0L; var priceSum = 0L
            var daySum = 0L; var statusIdxSum = 0L; var nOther = 0L
            var nSrc = 0L; var qtySum = 0L
            var rowsOk = true
            dec.records.foreach { r =>
              val row = for {
                id <- r.field("id").flatMap(_.asLong)
                pb <- r.field("price").flatMap(_.asBytes)
                c <- G.decimalLong(pb)
                ed <- r.field("event_day").flatMap(_.asLong)
                src <- r.field("source").flatMap(_.asString)
                q <- r.field("qty").flatMap(_.asLong)
                si <- r.field("status").collect {
                  case G.VEnum(i) => i.toLong
                }
              } yield {
                n += 1; idSum += id; priceSum += c; daySum += ed
                statusIdxSum += si
                if (si == 0L) nOther += 1
                if (src == "v1") nSrc += 1
                qtySum += q
              }
              if (row.isEmpty) rowsOk = false
            }
            if (!rowsOk || qtySum != 0L) Nil
            else Seq((blobId, n, idSum, priceSum, daySum,
              statusIdxSum, nOther, nSrc,
              if (apacheOk) 1L else 0L,
              if (closedOk) 1L else 0L))
          }
          out.toSeq.flatten
        }.toDF("blob_id", "n_rows", "id_sum", "price_sum_cents",
            "day_sum", "status_idx_sum", "n_other",
            "n_default_source", "apache_ok", "closed_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 7919) % 100000 - 50000 AS cents,
                 19000 + (doc_id % 700) AS day,
                 doc_id % 3 AS st
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(cents) AS BIGINT) AS price_sum_cents,
               CAST(sum(day) AS BIGINT) AS day_sum,
               CAST(sum(CASE WHEN st = 0 THEN 1 WHEN st = 1 THEN 2
                 ELSE 0 END) AS BIGINT) AS status_idx_sum,
               CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_other,
               CAST(count(*) AS BIGINT) AS n_default_source,
               CAST(1 AS BIGINT) AS apache_ok,
               CAST(1 AS BIGINT) AS closed_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q367 — Iceberg SNAPSHOT REFS (branches/tags) +
    // WRITE-AUDIT-PUBLISH: the publish gate a curation pipeline
    // wants — stage an append as a snapshot reachable ONLY from an
    // `audit` branch (main untouched: the WAP law), audit the branch
    // walk, then fast-forward main (pure metadata). A tag pins
    // snapshot 1 for time travel by NAME, and expire_snapshots
    // respects ref retention: while the tag is live its snapshot
    // survives a cutoff that would expire it (retention_ok); once
    // the tag ages past max-ref-age-ms the ref drops and the
    // snapshot expires — deleting ONLY its list (the manifest and
    // data files stay live in the published snapshot). Every scan is
    // the engine's own metadata walk (refs -> list -> manifests ->
    // own parquet reader); sums re-derive in DuckDB.
    "q367_iceberg_wap_refs" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 23) % 941
          val oldIds = ids.filter(d => (d / 6) % 4 != 1)
          val newIds = ids.filter(d => (d / 6) % 4 == 1)
          def expect(xs: Seq[Long]) =
            xs.map(d => (d, v(d))).sortBy(_._1)
          val base = W.writeRefsTable(s"tbl-$t", oldIds, v,
            "v1", 5000L)
          val res = for {
            st <- W.stageBranch(base, "v1.metadata.json", "audit",
              newIds.map(d => (d, v(d))), 1700000001000L)
            staged = base ++ st.newFiles
            mainBefore <- W.scanRef(staged, st.newMetaName, "main")
            branchRows <- W.scanRef(staged, st.newMetaName, "audit")
            ff <- W.fastForward(staged, st.newMetaName, "audit")
            published = staged + (ff._1 -> ff._2)
            mainAfter <- W.scanRef(published, ff._1, "main")
            tagRows <- W.scanRef(published, ff._1, "v1")
            ex1 <- W.expireSnapshots(published, ff._1,
              1700000000500L, 1700000002000L)
            pruned1 = (published -- ex1.deleted) +
              (ex1.newMetaName -> ex1.newMeta)
            ex2 <- W.expireSnapshots(pruned1, ex1.newMetaName,
              1700000000500L, 1700000010000L)
            pruned2 = (pruned1 -- ex2.deleted) +
              (ex2.newMetaName -> ex2.newMeta)
            mainFinal <- W.scanRef(pruned2, ex2.newMetaName, "main")
          } yield {
            val tagGone =
              W.scanRef(pruned2, ex2.newMetaName, "v1").isEmpty
            val wapOk = mainBefore.sortBy(_._1) == expect(oldIds)
            val auditOk = branchRows.sortBy(_._1) == expect(ids)
            val publishOk =
              mainAfter.sortBy(_._1) == branchRows.sortBy(_._1)
            val tagOk = tagRows.sortBy(_._1) == expect(oldIds)
            val retentionOk = ex1.nExpired == 0 &&
              ex1.deleted.isEmpty
            val expireOk = ex2.nExpired == 1 &&
              ex2.deleted == Seq("snap-1.avro") &&
              ex2.dataDeleted == 0
            val finalOk =
              mainFinal.sortBy(_._1) == expect(ids) && tagGone
            (t, mainBefore.length.toLong,
              (branchRows.length - mainBefore.length).toLong,
              mainBefore.map(_._2).sum, mainAfter.map(_._2).sum,
              if (wapOk) 1L else 0L,
              if (auditOk) 1L else 0L,
              if (publishOk) 1L else 0L,
              if (tagOk) 1L else 0L,
              if (retentionOk) 1L else 0L,
              if (expireOk) 1L else 0L,
              if (finalOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_old", "n_new", "old_val_sum",
            "all_val_sum", "wap_ok", "audit_ok", "publish_ok",
            "tag_ok", "retention_ok", "expire_ok", "final_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 23) % 941 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_old,
               CAST(sum(CASE WHEN gen4 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN gen4 <> 1 THEN v ELSE 0 END)
                 AS BIGINT) AS old_val_sum,
               CAST(sum(v) AS BIGINT) AS all_val_sum,
               CAST(1 AS BIGINT) AS wap_ok,
               CAST(1 AS BIGINT) AS audit_ok,
               CAST(1 AS BIGINT) AS publish_ok,
               CAST(1 AS BIGINT) AS tag_ok,
               CAST(1 AS BIGINT) AS retention_ok,
               CAST(1 AS BIGINT) AS expire_ok,
               CAST(1 AS BIGINT) AS final_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q368 — Hudi METADATA TABLE (files partition): at 100 TB the
    // planning bottleneck is the storage LIST, and the MDT is the
    // format's own answer — `.hoodie/metadata` as a small MOR table
    // whose files partition maps partition -> {file -> (size,
    // isDeleted)}. The engine bootstraps it from the q302 timeline
    // (one MDT deltacommit + one log block per data instant, through
    // the own HudiLog/Avro writers), then PLANS from the MDT alone
    // and proves: MDT plan ≡ listing plan; an orphan base file (on
    // disk, completed instant name, never committed — the residue a
    // failed write leaves) fools the listing plan but is INVISIBLE
    // to the MDT; CLEAN (q361) appends tombstones and the plans stay
    // equal, with the appended log byte-prefixed by the old one.
    // Rows are then READ through the MDT plan with the own parquet
    // reader; sums re-derive in DuckDB.
    "q368_hudi_metadata_table" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val P = graft.sources.Parquet
          val files = W.writeTable(ids)
          val res = for {
            mdt <- M.sync(files)
            table = files ++ mdt
            planM <- M.planFromMdt(table)
            listing <- M.listing(table)
            rows <- {
              val per = planM.map { p =>
                for {
                  b <- table.get(p)
                  rs <- P.columnLongs(b, "rec_id")
                  vs <- P.columnLongs(b, "val")
                  if rs.length == vs.length
                } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
            cr <- W.clean(files, "00000000000004")
            mdt2 <- M.appendClean(mdt, "00000000000004", cr.deleted)
            cleaned = (table -- cr.deleted) ++ mdt2 +
              (cr.timelineName -> cr.timeline)
            listing2 <- M.listing(cleaned)
            planM2 <- M.planFromMdt(cleaned)
          } yield {
            val planL = M.planFromListing(table)
            val planMatch = planM == planL
            val orphan = "p/fg9_0-0-0_00000000000001.parquet"
            val withOrphan = table + (orphan ->
              graft.sources.ParquetWrite.writeInt64(
                Seq("rec_id", "val"), Seq(Array(999L, 999L))))
            val orphanInvisible =
              M.planFromListing(withOrphan).contains(orphan) &&
                M.planFromMdt(withOrphan).contains(planM)
            val cleanPlanOk = planM2 == planM &&
              planM2 == M.planFromListing(cleaned) &&
              !listing2("p").exists(
                _._1 == "fg0_0-0-0_00000000000001.parquet")
            val cleanDropped = listing("p").length == 3 &&
              listing2("p").length == 2
            val prefixOk = {
              val a = mdt(M.LogPath); val b = mdt2(M.LogPath)
              b.length > a.length &&
                java.util.Arrays.equals(b.take(a.length), a)
            }
            val sizesOk = listing("p").forall { case (n, sz) =>
              files.get("p/" + n).exists(_.length.toLong == sz)
            }
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum,
              listing("p").length.toLong,
              listing2("p").length.toLong,
              if (planMatch) 1L else 0L,
              if (orphanInvisible) 1L else 0L,
              if (cleanPlanOk && cleanDropped) 1L else 0L,
              if (prefixOk) 1L else 0L,
              if (sizesOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "n_files_mdt", "n_files_after_clean", "plan_match",
            "orphan_invisible", "clean_sync_ok", "append_prefix_ok",
            "sizes_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id * 13) % 1000 +
                   CASE WHEN (doc_id // 6) % 2 = 0 THEN 5 ELSE 0 END
                   AS v
          FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(3 AS BIGINT) AS n_files_mdt,
               CAST(2 AS BIGINT) AS n_files_after_clean,
               CAST(1 AS BIGINT) AS plan_match,
               CAST(1 AS BIGINT) AS orphan_invisible,
               CAST(1 AS BIGINT) AS clean_sync_ok,
               CAST(1 AS BIGINT) AS append_prefix_ok,
               CAST(1 AS BIGINT) AS sizes_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q369 — Iceberg INCREMENTAL APPEND SCAN: changes-between-
    // snapshots over the own metadata walk — the incremental-
    // consumption primitive a downstream feed runs instead of full
    // rescans (Delta has CDF both directions q282/q352; this closes
    // the Iceberg side). A four-snapshot history (append A, append
    // B, REPLACE A+B with compacted C, append D) pins every rule:
    // only manifests a snapshot ADDED are read (carried-forward
    // manifests never re-contribute — q259's EXISTING discipline),
    // a replace snapshot contributes ZERO rows, and the FOLD LAW
    // holds at EVERY snapshot boundary — scan(prev) ∪ inc(prev,
    // next) ≡ scan(next) as multisets — which is exactly the
    // invariant a streaming tail must maintain across micro-batch
    // boundaries. Sums re-derive in DuckDB by generation.
    "q369_iceberg_incremental_scan" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 27) % 929
          val files = W.writeIncrTable(s"tbl-$t", ids, v)
          val meta = "v1.metadata.json"
          val res = for {
            inc14 <- W.incrementalScan(files, meta, 1L, 4L)
            inc23 <- W.incrementalScan(files, meta, 2L, 3L)
            scans <- {
              val ss = (1L to 4L).map(
                W.scanSnapshot(files, meta, _))
              if (ss.exists(_.isEmpty)) None
              else Some(ss.map(_.get))
            }
            steps <- {
              val is = (1L to 3L).map(i =>
                W.incrementalScan(files, meta, i, i + 1))
              if (is.exists(_.isEmpty)) None
              else Some(is.map(_.get))
            }
          } yield {
            def srt(xs: Seq[(Long, Long)]) = xs.sorted
            // fold law at every boundary
            val foldOk = (0 until 3).forall { i =>
              srt(scans(i) ++ steps(i).rows) == srt(scans(i + 1))
            }
            val replaceZeroOk = inc23.rows.isEmpty &&
              inc23.replacesSkipped == 1 &&
              inc23.appendsConsumed == 0
            val totalOk =
              srt(scans(0) ++ inc14.rows) == srt(scans(3))
            val consumedOk = inc14.appendsConsumed == 2 &&
              inc14.replacesSkipped == 1
            (t, inc14.rows.length.toLong,
              inc14.rows.map(_._2).sum,
              scans(3).length.toLong, scans(3).map(_._2).sum,
              if (foldOk) 1L else 0L,
              if (replaceZeroOk) 1L else 0L,
              if (totalOk) 1L else 0L,
              if (consumedOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_incr", "incr_val_sum", "n_full",
            "full_val_sum", "fold_ok", "replace_zero_ok", "total_ok",
            "consumed_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 27) % 929 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 <> 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_incr,
               CAST(sum(CASE WHEN gen4 <> 0 THEN v ELSE 0 END)
                 AS BIGINT) AS incr_val_sum,
               CAST(count(*) AS BIGINT) AS n_full,
               CAST(sum(v) AS BIGINT) AS full_val_sum,
               CAST(1 AS BIGINT) AS fold_ok,
               CAST(1 AS BIGINT) AS replace_zero_ok,
               CAST(1 AS BIGINT) AS total_ok,
               CAST(1 AS BIGINT) AS consumed_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q372 — q369's STREAMING twin: the snapshot tail as a live
    // stream, the way q256 tails the Delta log. Each micro-batch
    // delivers ONE snapshot's increment — computed by the REAL
    // incremental walk (IcebergWrite.incrementalScan) over the
    // engine-written four-snapshot table, so the stream consumes
    // exactly what a production tail would: per-snapshot rows/sums,
    // including the REPLACE snapshot whose contribution must be zero
    // ACROSS a batch boundary (a state-losing or arrival-confused
    // engine double-counts the compaction). Running standing is a
    // streaming aggregation (update mode, state store); drain ×2
    // from one checkpoint — replay emits nothing new; final standing
    // re-derives in DuckDB.
    "q372_stream_iceberg_incremental" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.Trigger
        val increments = Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 27) % 929
          val files = W.writeIncrTable(s"tbl-$t", ids, v)
          (1L to 3L).flatMap { i =>
            W.incrementalScan(files, "v1.metadata.json", i, i + 1)
              .map { inc =>
                val op =
                  if (inc.replacesSkipped > 0) "replace"
                  else "append"
                (t, i + 1, op, inc.rows.length.toLong,
                  inc.rows.map(_._2).sum)
              }
          }
        }.toDF("table_id", "to_sid", "op", "n_rows", "val_sum")
        val dv = new StreamDeliveries("graft_q372_incr")
        (2L to 4L).foreach { sid =>
          dv.land(increments.filter(col("to_sid") === sid), s"s$sid",
            1000000000000L + sid * 60000L)
        }
        val out = s"${dv.root}/out"; val chk = s"${dv.root}/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(increments.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = stream.groupBy(col("table_id"))
            .agg(count(lit(1)).as("n_snapshots"),
              max(col("to_sid")).as("last_sid"),
              sum(col("n_rows")).cast("long").as("incr_rows"),
              sum(col("val_sum")).cast("long").as("incr_val_sum"),
              sum(when(col("op") === "replace", col("n_rows"))
                .otherwise(lit(0L))).cast("long").as("replace_rows"))
            .writeStream.outputMode("update")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], batchId: Long) =>
                batch.write.mode("overwrite")
                  .parquet(s"$out/batch=$batchId")
            }
            .option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: emits nothing
        val snaps = s.read.parquet(out)
        val latest = snaps.groupBy(col("table_id"))
          .agg(max(col("n_snapshots")).as("n_snapshots"))
        snaps.join(latest, Seq("table_id", "n_snapshots"))
          .select(col("table_id"), col("n_snapshots"),
            col("last_sid"), col("incr_rows"), col("incr_val_sum"),
            col("replace_rows"))
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 27) % 929 AS v
          FROM documents)
        SELECT table_id,
               CAST(3 AS BIGINT) AS n_snapshots,
               CAST(4 AS BIGINT) AS last_sid,
               CAST(sum(CASE WHEN gen4 <> 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS incr_rows,
               CAST(sum(CASE WHEN gen4 <> 0 THEN v ELSE 0 END)
                 AS BIGINT) AS incr_val_sum,
               CAST(0 AS BIGINT) AS replace_rows
        FROM r GROUP BY table_id"""),
      headline = false),

    // q370 — Delta V2 CHECKPOINTS (manifest + sidecars): the current
    // protocol's scaling answer for very large logs — checkpoint
    // state split across UUID-named sidecar parquet files under
    // _delta_log/_sidecars/, referenced (size-verified) from a
    // self-describing manifest, gated on the v2Checkpoint reader
    // FEATURE. Pre-checkpoint JSON is vacuumed (q261's law on the
    // new layout): state at v1 is resolvable ONLY through
    // manifest+sidecars, then the JSON tail replays on top. The
    // partition value of a checkpoint-only file survives through the
    // sidecar's map column. A classic-only reader (maxReaderVersion
    // 1, or one without the feature) must fail CLOSED; a missing or
    // size-mismatched sidecar and a manifest claiming another
    // version also close. Live rows re-derive in DuckDB.
    "q370_delta_v2_checkpoint" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          val files = W.writeTableWithV2Checkpoint(s"tbl-$t", ids)
          val feats = Set("v2Checkpoint")
          val res = for {
            st <- W.readStateV2(files, 3L, feats)
            rows <- {
              val per = st.liveAdds.map { case (p, sz, _) =>
                for {
                  b <- files.get(p)
                  if b.length.toLong == sz
                  rs <- P.columnLongs(b, "rec_id")
                  vs <- P.columnLongs(b, "val")
                  if rs.length == vs.length
                } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
          } yield {
            val gateClosed =
              W.readStateV2(files, 1L, feats).isEmpty &&
                W.readStateV2(files, 3L, Set.empty).isEmpty
            val classicAbsent = !files.contains(
              "_delta_log/00000000000000000001.checkpoint.parquet")
            val scName = files.keys
              .find(_.startsWith("_delta_log/_sidecars/")).get
            val sidecarIntegrity =
              W.readStateV2(files - scName, 3L, feats).isEmpty &&
                W.readStateV2(files +
                  (scName -> files(scName).dropRight(1)), 3L,
                  feats).isEmpty
            val partsOk = st.liveAdds.map(_._3) == Seq("2", "3")
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum, st.nSidecars.toLong,
              if (gateClosed) 1L else 0L,
              if (classicAbsent) 1L else 0L,
              if (sidecarIntegrity) 1L else 0L,
              if (partsOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_live", "id_sum", "val_sum",
            "n_sidecars", "gate_closed", "classic_absent",
            "sidecar_integrity", "parts_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 13) % 991 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 >= 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_live,
               CAST(sum(CASE WHEN gen4 >= 2 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen4 >= 2 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(2 AS BIGINT) AS n_sidecars,
               CAST(1 AS BIGINT) AS gate_closed,
               CAST(1 AS BIGINT) AS classic_absent,
               CAST(1 AS BIGINT) AS sidecar_integrity,
               CAST(1 AS BIGINT) AS parts_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q371 — ORC COLUMN ENCRYPTION: the ORC twin of the parquet
    // governance story (q353/q359) — the salary and name columns'
    // streams (DATA, LENGTH, ROW_INDEX — all of them) ride AES/CTR
    // under per-variant local keys wrapped by a master key, the
    // plaintext footer and metadata carry MASKED statistics (no
    // bounds: a pruning reader degrades to reading, never
    // wrong-skips — q248's discipline without plaintext exposure),
    // and the real statistics ride encrypted in the footer's
    // encryption message. Laws pinned per blob: decrypt∘encrypt is
    // the byte identity; the UNENCRYPTED rec_id column reads
    // correctly from the ENCRYPTED bytes (additive metadata); masked
    // stats expose no bounds while the plain file has them; a wrong
    // master key fails CLOSED on the statistics key-check; a flipped
    // stream byte decrypts silently different (the CTR trade, as the
    // spec defines the mode). Sums re-derive in DuckDB.
    "q371_orc_column_encryption" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.OrcWrite
          val C = graft.sources.OrcCrypto
          val O = graft.sources.Orc
          def sal(d: Long): Long = (d * 31) % 1009
          val master = Md5Hashes.digest(
            s"orcenc:$t:${ids.mkString(",")}".getBytes("UTF-8"))
          val plain = W.writeTable(Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.OLongCol("salary", ids.map(d => Some(sal(d)))),
            W.OStringCol("name",
              ids.map(d => Some(s"u-${d % 7}")))),
            compression = 0, rowIndexStride = 64)
          val res = for {
            enc <- C.encryptFile(plain, master, "pii", Set(2, 3),
              deterministic = true)
            back <- C.decryptFile(enc, master)
            te <- O.parseTail(enc)
            tp <- O.parseTail(plain)
            tb <- O.parseTail(back)
            encIds <- O.stripeColumnLongs(enc, te,
              te.stripes.head, 1)
            sals <- O.stripeColumnLongs(back, tb,
              tb.stripes.head, 2)
          } yield {
            val identityOk = java.util.Arrays.equals(back, plain)
            val unencReadable = encIds.toSeq == ids
            val maskedOk = te.stats(2).intMin.isEmpty &&
              te.stats(2).intMax.isEmpty &&
              tp.stats(2).intMin.nonEmpty &&
              te.stripeStats.head(2).intMin.isEmpty &&
              te.stats(1) == tp.stats(1)
            val wrongKeyClosed =
              C.decryptFile(enc, master.reverse).isEmpty
            val tamperSilent = {
              val sf = O.parseStripeFooter(enc, te,
                te.stripes.head).get
              var pos = te.stripes.head.offset
              var at = -1L
              sf.streams.foreach { st =>
                if (st.column == 2 && st.kind == 1 && at < 0)
                  at = pos + st.length / 2
                pos += st.length
              }
              val x = enc.clone()
              x(at.toInt) = (x(at.toInt) ^ 0x01).toByte
              C.decryptFile(x, master)
                .exists(!java.util.Arrays.equals(_, plain))
            }
            (t, ids.length.toLong, ids.sum, sals.sum,
              if (identityOk) 1L else 0L,
              if (unencReadable) 1L else 0L,
              if (maskedOk) 1L else 0L,
              if (wrongKeyClosed) 1L else 0L,
              if (tamperSilent) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_rows", "id_sum", "salary_sum",
            "identity_ok", "unenc_readable", "masked_ok",
            "wrong_key_closed", "tamper_silent")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 31) % 1009 AS sal
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(sal) AS BIGINT) AS salary_sum,
               CAST(1 AS BIGINT) AS identity_ok,
               CAST(1 AS BIGINT) AS unenc_readable,
               CAST(1 AS BIGINT) AS masked_ok,
               CAST(1 AS BIGINT) AS wrong_key_closed,
               CAST(1 AS BIGINT) AS tamper_silent
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q373 — Avro SINGLE-OBJECT ENCODING: the per-record wire form
    // (C3 01 ‖ LE64 CRC-64-AVRO fingerprint of the writer schema's
    // Parsing Canonical Form ‖ bare datum) that schema-registry
    // pipelines move events in — the transport twin of q366's
    // container evolution. Per blob: records written under TWO
    // writer versions (v1: int amount + a legacy tag; v2: long
    // amount + source) are decoded through a fingerprint registry
    // under ONE evolved reader — v1 amounts promote int->long, v1's
    // tag is skipped, v1's source takes the reader default, and the
    // fingerprints themselves are re-derived by Apache Avro's
    // SchemaNormalization in the same task (apache_fp_ok). A
    // registry miss and a flipped marker fail CLOSED. Sums re-derive
    // in DuckDB by generation parity.
    "q373_avro_single_object" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val G = graft.sources.AvroGeneric
          val SO = graft.sources.AvroSingleObject
          def amt(d: Long): Long = (d * 11) % 501
          val v1 =
            """{"type":"record","name":"ev","fields":[
              |{"name":"id","type":"long"},
              |{"name":"amount","type":"int"},
              |{"name":"tag","type":"string"}
              |]}""".stripMargin.replaceAll("\n", "")
          val v2 =
            """{"type":"record","name":"ev","fields":[
              |{"name":"id","type":"long"},
              |{"name":"amount","type":"long"},
              |{"name":"source","type":"string","default":"s2"}
              |]}""".stripMargin.replaceAll("\n", "")
          val reader =
            """{"type":"record","name":"ev","fields":[
              |{"name":"id","type":"long"},
              |{"name":"amount","type":"long"},
              |{"name":"source","type":"string","default":"v1"}
              |]}""".stripMargin.replaceAll("\n", "")
          val res = for {
            fp1 <- SO.fingerprint(v1)
            fp2 <- SO.fingerprint(v2)
            registry = Map(fp1 -> v1, fp2 -> v2)
            msgs <- {
              val ms = ids.map { d =>
                if ((d / 6) % 2 == 0)
                  SO.write(v1, G.VRecord(Vector(
                    "id" -> G.VLong(d),
                    "amount" -> G.VLong(amt(d)),
                    "tag" -> G.VString("t" + (d % 3)))))
                else
                  SO.write(v2, G.VRecord(Vector(
                    "id" -> G.VLong(d),
                    "amount" -> G.VLong(amt(d) + (1L << 40)),
                    "source" -> G.VString("k2"))))
              }
              if (ms.exists(_.isEmpty)) None
              else Some(ms.map(_.get))
            }
            decoded <- {
              val ds = msgs.map(SO.read(_, registry, reader))
              if (ds.exists(_.isEmpty)) None
              else Some(ds.map(_.get))
            }
          } yield {
            val apacheFpOk = try {
              import org.apache.avro.{Schema, SchemaNormalization}
              SchemaNormalization.parsingFingerprint64(
                new Schema.Parser().parse(v1)) == fp1 &&
                SchemaNormalization.parsingFingerprint64(
                  new Schema.Parser().parse(v2)) == fp2
            } catch { case _: Exception => false }
            val closedOk =
              SO.read(msgs.head, registry - fp1, reader).isEmpty && {
                val x = msgs.head.clone(); x(0) = 0x00
                SO.read(x, registry, reader).isEmpty
              }
            var n1 = 0L; var n2 = 0L; var amountSum = 0L
            var idSum = 0L; var nDefSrc = 0L
            var rowsOk = true
            decoded.foreach { r =>
              val row = for {
                id <- r.field("id").flatMap(_.asLong)
                a <- r.field("amount").flatMap(_.asLong)
                src <- r.field("source").flatMap(_.asString)
              } yield {
                idSum += id; amountSum += a
                if (src == "v1") { n1 += 1; nDefSrc += 1 }
                else n2 += 1
              }
              if (row.isEmpty) rowsOk = false
            }
            if (!rowsOk) Nil
            else Seq((t, decoded.length.toLong, n1, n2, idSum,
              amountSum, nDefSrc,
              if (apacheFpOk) 1L else 0L,
              if (closedOk) 1L else 0L))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "n_msgs", "n_v1", "n_v2", "id_sum",
            "amount_sum", "n_default_source", "apache_fp_ok",
            "closed_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id // 6) % 2 AS gen2,
                 (doc_id * 11) % 501 AS amt
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_msgs,
               CAST(sum(CASE WHEN gen2 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_v1,
               CAST(sum(CASE WHEN gen2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_v2,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(amt) + 1099511627776 *
                 sum(CASE WHEN gen2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS amount_sum,
               CAST(sum(CASE WHEN gen2 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_default_source,
               CAST(1 AS BIGINT) AS apache_fp_ok,
               CAST(1 AS BIGINT) AS closed_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q374 — Hudi MDT COLUMN_STATS partition: q368 made file LISTING
    // engine-owned; this makes file PRUNING engine-owned — per-file
    // min/max/count per column, PROVEN by decoding the data through
    // the own parquet reader at sync time, stored as type-3 records
    // in `.hoodie/metadata/column_stats/`, and consulted by the
    // planner INSTEAD of opening footers (at 100 TB, stats-in-MDT is
    // what makes predicate planning O(metadata)). Laws: the pruned
    // plan keeps exactly the files whose [min,max] intersects the
    // predicate; pruned+filter ≡ full+filter row-for-row (a wrong
    // skip is data loss); a column with NO stats prunes nothing
    // (conservative); the stats themselves re-derive from the rows.
    "q374_hudi_mdt_column_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val P = graft.sources.Parquet
          def v(d: Long): Long = (d * 13) % 1200
          val t1 = "00000000000001"
          val buckets = (0 to 2).map(b =>
            b -> ids.filter(d => v(d) / 400 == b))
            .filter(_._2.nonEmpty)
          val names = buckets.map { case (b, _) =>
            b -> s"p/r$b-0-0_0-0-0_$t1.parquet" }.toMap
          val data = buckets.map { case (b, p) =>
            names(b) -> graft.sources.ParquetWrite.writeInt64(
              Seq("rec_id", "val"), p.map(d => Array(d, v(d))))
          }.toMap
          val commit = W.commitJson(buckets.map { case (b, p) =>
            (s"r$b-0-0", names(b), p.length.toLong) })
          val files = Map(s".hoodie/$t1.commit" ->
            commit.getBytes("UTF-8")) ++ data
          val res = for {
            mdt <- M.sync(files)
            cs <- M.syncColumnStats(files, Seq("rec_id", "val"))
            table = files ++ mdt ++ cs
            full <- M.planFromMdt(table)
            pruned <- M.prunePlan(table, "val", 100L, 250L)
            noStats <- M.prunePlan(table, "nope", 100L, 250L)
            stats <- M.colStatsListing(table)
            scanned <- {
              def scan(plan: Seq[String]) = {
                val per = plan.map { p =>
                  for {
                    b <- table.get(p)
                    rs <- P.columnLongs(b, "rec_id")
                    vs <- P.columnLongs(b, "val")
                    if rs.length == vs.length
                  } yield rs.zip(vs).toSeq
                    .filter(r => r._2 >= 100 && r._2 <= 250)
                }
                if (per.exists(_.isEmpty)) None
                else Some(per.flatMap(_.get).sortBy(_._1))
              }
              for {
                a <- scan(pruned)
                b <- scan(full)
              } yield (a, b)
            }
          } yield {
            val (prunedRows, fullRows) = scanned
            val expectPruned = buckets.collect {
              case (b, p)
                if p.map(v).max >= 100 && p.map(v).min <= 250 =>
                names(b)
            }.sorted
            val pruneExact = pruned == expectPruned
            val noWrongSkip = prunedRows == fullRows
            val conservative = noStats == full
            val statsProven = buckets.forall { case (b, p) =>
              stats.get((names(b), "val")).contains(
                (p.map(v).min, p.map(v).max, p.length.toLong))
            }
            (t, prunedRows.length.toLong,
              prunedRows.map(_._1).sum, prunedRows.map(_._2).sum,
              full.length.toLong, pruned.length.toLong,
              if (pruneExact) 1L else 0L,
              if (noWrongSkip) 1L else 0L,
              if (conservative) 1L else 0L,
              if (statsProven) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_match", "filt_id_sum", "filt_val_sum",
            "n_files_full", "n_files_pruned", "prune_exact",
            "no_wrong_skip", "conservative_ok", "stats_proven")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 13) % 1200 AS v
          FROM documents),
        f AS (
          SELECT blob_id, v // 400 AS b, min(v) AS mn, max(v) AS mx
          FROM r GROUP BY 1, 2),
        fc AS (
          SELECT blob_id, CAST(count(*) AS BIGINT) AS n_files_full,
                 CAST(sum(CASE WHEN mx >= 100 AND mn <= 250
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_files_pruned
          FROM f GROUP BY blob_id),
        ag AS (
          SELECT blob_id,
                 CAST(sum(CASE WHEN v BETWEEN 100 AND 250
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
                 CAST(sum(CASE WHEN v BETWEEN 100 AND 250
                   THEN d ELSE 0 END) AS BIGINT) AS filt_id_sum,
                 CAST(sum(CASE WHEN v BETWEEN 100 AND 250
                   THEN v ELSE 0 END) AS BIGINT) AS filt_val_sum
          FROM r GROUP BY blob_id)
        SELECT fc.blob_id, ag.n_match, ag.filt_id_sum,
               ag.filt_val_sum, fc.n_files_full, fc.n_files_pruned,
               CAST(1 AS BIGINT) AS prune_exact,
               CAST(1 AS BIGINT) AS no_wrong_skip,
               CAST(1 AS BIGINT) AS conservative_ok,
               CAST(1 AS BIGINT) AS stats_proven
        FROM fc JOIN ag ON fc.blob_id = ag.blob_id"""),
      headline = false),

    // q375 — Iceberg CHANGELOG SCAN: q369 emits appends; this is the
    // full CDC primitive — INSERTS from append snapshots plus
    // DELETES whose ROW VALUES are resolved by reading the v2
    // position-delete files against their target data files (the
    // operation Delta's CDF gives q282/q352 consumers, now on the
    // Iceberg side). A four-snapshot history (append A, append B,
    // position-DELETE of A's d%5==0 rows, append D) pins: the
    // delete-only window emits ONLY deletes with the killed rows'
    // values; carried-forward manifests never re-contribute; and the
    // APPLY LAW holds at every boundary — scanMor(i) + changes ≡
    // scanMor(i+1) as multisets — exactly what a downstream
    // materialized view needs to stay consistent. Sums re-derive in
    // DuckDB by generation and d%5.
    "q375_iceberg_changelog_scan" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 29) % 997
          val files = W.writeChangelogTable(s"tbl-$t", ids, v)
          val meta = "v1.metadata.json"
          def applyTo(base: Seq[(Long, Long)],
                      cs: Seq[W.Change]): Seq[(Long, Long)] = {
            val m = scala.collection.mutable
              .Map.empty[(Long, Long), Int].withDefaultValue(0)
            base.foreach(r => m(r) += 1)
            cs.foreach { c =>
              if (c.changeType == "INSERT")
                m((c.recId, c.value)) += 1
              else m((c.recId, c.value)) -= 1
            }
            m.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }
              .sorted
          }
          val res = for {
            all <- W.changelogScan(files, meta, 1L, 4L)
            delWin <- W.changelogScan(files, meta, 2L, 3L)
            scans <- {
              val ss = (1L to 4L).map(
                W.scanSnapshotMor(files, meta, _))
              if (ss.exists(_.isEmpty)) None
              else Some(ss.map(_.get))
            }
            steps <- {
              val is = (1L to 3L).map(i =>
                W.changelogScan(files, meta, i, i + 1))
              if (is.exists(_.isEmpty)) None
              else Some(is.map(_.get))
            }
          } yield {
            val foldOk = (0 until 3).forall { i =>
              applyTo(scans(i), steps(i)) == scans(i + 1).sorted
            }
            val totalOk = applyTo(scans(0), all) == scans(3).sorted
            val windowOk = delWin.nonEmpty &&
              delWin.forall(_.changeType == "DELETE")
            val ins = all.filter(_.changeType == "INSERT")
            val del = all.filter(_.changeType == "DELETE")
            (t, ins.length.toLong, del.length.toLong,
              ins.map(_.value).sum, del.map(_.value).sum,
              scans(3).length.toLong, scans(3).map(_._2).sum,
              if (foldOk) 1L else 0L,
              if (totalOk) 1L else 0L,
              if (windowOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_inserts", "n_deletes", "ins_val_sum",
            "del_val_sum", "n_final", "final_val_sum", "fold_ok",
            "total_ok", "window_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 29) % 997 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 <> 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_inserts,
               CAST(sum(CASE WHEN gen4 = 0 AND d % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
               CAST(sum(CASE WHEN gen4 <> 0 THEN v ELSE 0 END)
                 AS BIGINT) AS ins_val_sum,
               CAST(sum(CASE WHEN gen4 = 0 AND d % 5 = 0
                 THEN v ELSE 0 END) AS BIGINT) AS del_val_sum,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 <> 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 <> 0
                 THEN v ELSE 0 END) AS BIGINT) AS final_val_sum,
               CAST(1 AS BIGINT) AS fold_ok,
               CAST(1 AS BIGINT) AS total_ok,
               CAST(1 AS BIGINT) AS window_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q377 — Delta VERSION CHECKSUM (.crc): the per-commit state
    // summary (numFiles, tableSizeBytes, numMetadata, numProtocol)
    // delta-spark records beside each commit so a reader can
    // validate its replay WITHOUT re-listing data — at 100 TB the
    // cheap tripwire that catches a lost action, truncated commit,
    // or rewritten add before it poisons a downstream job. Laws per
    // blob: crc(v) matches an independent replay at both versions;
    // tableSizeBytes equals the live files' ACTUAL byte sum; a
    // tampered log (commit 1 loses its remove action) trips
    // validation with the exact divergence (replay 3 vs crc 2); a
    // missing crc fails closed. Live rows re-derive in DuckDB.
    "q377_delta_version_checksum" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          val files = W.writeTable(s"tbl-$t", ids)
          val res = for {
            crc0 <- W.writeCrc(files, 0L)
            crc1 <- W.writeCrc(files, 1L)
            table = files + crc0 + crc1
            v0 <- W.validateCrc(table, 0L)
            v1 <- W.validateCrc(table, 1L)
            live <- W.replayLiveSized(table, 1L)
            rows <- {
              val per = live.keys.toSeq.sorted.map { p =>
                for {
                  b <- table.get(p)
                  rs <- P.columnLongs(b, "rec_id")
                  vs <- P.columnLongs(b, "val")
                  if rs.length == vs.length
                } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
          } yield {
            val sizeLaw = v1.crcSize == live.keys.toSeq.map(p =>
              table(p).length.toLong).sum
            val addOnly = new String(files(
              "_delta_log/00000000000000000001.json"), "UTF-8")
              .split("\n").filter(_.contains("\"add\""))
              .mkString("", "\n", "\n")
            val tampered = table +
              ("_delta_log/00000000000000000001.json" ->
                addOnly.getBytes("UTF-8"))
            val detected = W.validateCrc(tampered, 1L).exists(c =>
              !c.ok && c.replayFiles == 3L && c.crcFiles == 2L)
            val missingClosed = W.validateCrc(files, 1L).isEmpty
            (t, v0.crcFiles, v1.crcFiles, rows.length.toLong,
              rows.map(_._1).sum, rows.map(_._2).sum,
              if (v0.ok && v1.ok) 1L else 0L,
              if (sizeLaw) 1L else 0L,
              if (detected) 1L else 0L,
              if (missingClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_files_v0", "n_files_v1", "n_live",
            "id_sum", "val_sum", "valid_ok", "size_law_ok",
            "tamper_detected", "missing_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS gen3,
                 (doc_id * 11) % 1000 AS v
          FROM documents)
        SELECT table_id,
               CAST(2 AS BIGINT) AS n_files_v0,
               CAST(2 AS BIGINT) AS n_files_v1,
               CAST(sum(CASE WHEN gen3 <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_live,
               CAST(sum(CASE WHEN gen3 <> 1 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen3 <> 1 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS valid_ok,
               CAST(1 AS BIGINT) AS size_law_ok,
               CAST(1 AS BIGINT) AS tamper_detected,
               CAST(1 AS BIGINT) AS missing_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q378 — STREAMING CHANGELOG APPLY: the downstream half of q375
    // — a materialized view maintained live from the CDC feed. Each
    // micro-batch delivers ONE snapshot's changes (computed by the
    // REAL changelog walk: inserts with values, position-delete rows
    // with values), and a per-(table, key) mapGroupsWithState fold
    // applies them in SNAPSHOT order, so the view converges to the
    // final table state across batch boundaries — a DELETE landing
    // in a later batch than its row's INSERT must kill it, never
    // resurrect it. Drain ×2 from one checkpoint — replay emits
    // nothing new. Final view (alive keys at per-key max n_changes)
    // re-derives in DuckDB; n_changes_total pins that no change was
    // lost or double-applied.
    "q378_stream_changelog_apply" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.Trigger
        val changes = Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 29) % 997
          val files = W.writeChangelogTable(s"tbl-$t", ids, v)
          (1L to 3L).flatMap { i =>
            W.changelogScan(files, "v1.metadata.json", i, i + 1)
              .toSeq.flatten.map(c =>
                (t, i + 1, c.changeType, c.recId, c.value))
          }
        }.toDF("table_id", "to_sid", "change_type", "rec_id", "val")
        val dv = new StreamDeliveries("graft_q378_mv")
        // snapshot 3 (deletes) lands in its own batch AFTER the
        // inserts it kills; snapshot 4 after that
        (2L to 4L).foreach { sid =>
          dv.land(changes.filter(col("to_sid") === sid), s"s$sid",
            1000000000000L + sid * 60000L)
        }
        val out = s"${dv.root}/out"; val chk = s"${dv.root}/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = graft.streaming.StreamOps
            .changelogApplyStream(stream)
            .toDF()
            .writeStream.outputMode("update")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], batchId: Long) =>
                batch.write.mode("overwrite")
                  .parquet(s"$out/batch=$batchId")
            }
            .option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: emits nothing
        val snaps = s.read.parquet(out)
        val latest = snaps.groupBy(col("table_id"), col("rec_id"))
          .agg(max(col("n_changes")).as("n_changes"))
        val view = snaps.join(latest,
          Seq("table_id", "rec_id", "n_changes"))
        view.groupBy(col("table_id"))
          .agg(
            sum(when(col("alive"), 1L).otherwise(0L)).cast("long")
              .as("n_alive"),
            sum(when(col("alive"), col("value")).otherwise(0L))
              .cast("long").as("alive_val_sum"),
            count(lit(1)).cast("long").as("n_keys_touched"),
            sum(col("n_changes")).cast("long").as("n_changes_total"))
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 29) % 997 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 <> 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_alive,
               CAST(sum(CASE WHEN gen4 <> 0 THEN v ELSE 0 END)
                 AS BIGINT) AS alive_val_sum,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_touched,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changes_total
        FROM r GROUP BY table_id"""),
      headline = false),

    // q379 — Avro SPLIT READS: the contract that makes a 100 TB Avro
    // corpus PARALLEL-readable — the Hadoop/Spark input-split rule
    // where a reader assigned [start, end) synchronizes to the first
    // sync marker at-or-after start and claims exactly the blocks
    // whose start lies in-range, so ANY partition of the byte range
    // reads every record EXACTLY ONCE (a block straddling a boundary
    // belongs to the split holding its start; a startless range
    // reads empty, legitimately). Laws per blob: 4-way and 7-way
    // byte partitions (boundaries landing mid-block, on sync bytes,
    // in the header) each tile to the full read; out-of-range splits
    // are empty; truncation inside a claimed block fails closed.
    // Sums re-derive in DuckDB.
    "q379_avro_split_read" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val G = graft.sources.AvroGeneric
          val W = graft.sources.AvroWrite
          def v(d: Long): Long = (d * 37) % 911
          val schema =
            """{"type":"record","name":"ev","fields":[
              |{"name":"id","type":"long"},
              |{"name":"val","type":"long"}
              |]}""".stripMargin.replaceAll("\n", "")
          val recs = ids.map(d => G.VRecord(Vector(
            "id" -> G.VLong(d), "val" -> G.VLong(v(d)))))
          val bytes = W.container(schema, recs, "null",
            s"q379-$t", 8) // many small blocks: real split surface
          val res = for {
            full <- G.parseContainer(bytes)
            tiled <- {
              def tile(n: Int): Option[Seq[G.V]] = {
                val len = bytes.length.toLong
                val cuts = (0 to n).map(k => len * k / n)
                val per = cuts.sliding(2).toSeq.map {
                  case Seq(a, b) => G.readSplit(bytes, a, b)
                }
                if (per.exists(_.isEmpty)) None
                else Some(per.flatMap(_.get))
              }
              for { a <- tile(4); b <- tile(7) } yield (a, b)
            }
          } yield {
            val (t4, t7) = tiled
            val tileOk = t4 == full.records && t7 == full.records
            val emptyOk = G.readSplit(bytes,
              bytes.length + 5L, bytes.length + 9L)
              .exists(_.isEmpty)
            val truncClosed = G.readSplit(bytes.dropRight(7), 0L,
              bytes.length.toLong).isEmpty
            var n = 0L; var idSum = 0L; var valSum = 0L
            var rowsOk = true
            t4.foreach { r =>
              val row = for {
                id <- r.field("id").flatMap(_.asLong)
                vv <- r.field("val").flatMap(_.asLong)
              } yield { n += 1; idSum += id; valSum += vv }
              if (row.isEmpty) rowsOk = false
            }
            if (!rowsOk) Nil
            else Seq((t, n, idSum, valSum,
              if (tileOk) 1L else 0L,
              if (emptyOk) 1L else 0L,
              if (truncClosed) 1L else 0L))
          }
          res.toSeq.flatten
        }.toDF("blob_id", "n_rows", "id_sum", "val_sum",
            "tile_ok", "empty_ok", "trunc_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 37) % 911 AS v
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS tile_ok,
               CAST(1 AS BIGINT) AS empty_ok,
               CAST(1 AS BIGINT) AS trunc_closed
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q380 — Parquet ROW-GROUP SPLIT reads: q379's law on the other
    // format — parquet-mr/Spark assign a row group to the byte split
    // containing its MIDPOINT (first chunk start + total compressed
    // / 2), so ANY partition of the file's range claims every group
    // exactly once with zero coordination — the contract a
    // 1000-executor scan of one 100 TB table rests on. Per blob: an
    // engine-written multi-row-group file (8 groups) is read through
    // 3-way and 5-way byte partitions landing mid-group and
    // mid-chunk; the claimed ordinals must tile {0..7} disjointly,
    // per-split chunk-decoded sums must add to the whole-file sums,
    // and out-of-range splits claim nothing. Sums re-derive in
    // DuckDB.
    "q380_parquet_rowgroup_split" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val P = graft.sources.Parquet
          val W = graft.sources.ParquetWrite
          def v(d: Long): Long = (d * 41) % 877
          val nG = 8
          val per = math.max(1, (ids.length + nG - 1) / nG)
          val groups = ids.grouped(per).toSeq
            .map(_.map(d => Array(d, v(d))))
          val bytes = W.writeInt64RowGroups(Seq("rec_id", "val"),
            groups)
          val res = for {
            fm <- P.parseFooter(bytes)
            sums <- {
              def rgSums(rgIdx: Seq[Int]) = {
                val per2 = rgIdx.map { i =>
                  val rg = fm.rowGroups(i)
                  val cs = rg.cols.map(c =>
                    P.decodeChunk(bytes, c))
                  if (cs.exists(_.isEmpty)) None
                  else Some((cs.head.get.numValues,
                    rg.cols.zip(cs.map(_.get)).map {
                      case (c, d) => c.path -> d.longSum
                    }.toMap))
                }
                if (per2.exists(_.isEmpty)) None
                else Some(per2.map(_.get))
              }
              def tile(n: Int) = {
                val len = bytes.length.toLong
                val cuts = (0 to n).map(k => len * k / n)
                val claimed = cuts.sliding(2).toSeq.map {
                  case Seq(a, b) => P.splitRowGroups(fm, a, b)
                }
                val flat = claimed.flatten
                if (flat.sorted == fm.rowGroups.indices.toSeq)
                  rgSums(flat).map(ss =>
                    (ss.map(_._1).sum,
                      ss.map(_._2("rec_id")).sum,
                      ss.map(_._2("val")).sum))
                else None
              }
              for { a <- tile(3); b <- tile(5) } yield (a, b)
            }
          } yield {
            val (t3, t5) = sums
            val tileOk = t3 == t5
            val emptyOk = P.splitRowGroups(fm,
              bytes.length.toLong + 4, bytes.length.toLong + 9)
              .isEmpty &&
              P.splitRowGroups(fm, 0L, 4L).isEmpty
            val nGroupsOk = fm.rowGroups.length == groups.length
            (t, t3._1, t3._2, t3._3,
              fm.rowGroups.length.toLong,
              if (tileOk) 1L else 0L,
              if (emptyOk) 1L else 0L,
              if (nGroupsOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_rows", "id_sum", "val_sum",
            "n_row_groups", "tile_ok", "empty_ok", "n_groups_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 41) % 877 AS v
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(8 AS BIGINT) AS n_row_groups,
               CAST(1 AS BIGINT) AS tile_ok,
               CAST(1 AS BIGINT) AS empty_ok,
               CAST(1 AS BIGINT) AS n_groups_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q381 — Delta OPTIMIZE ZORDER: the clustering twin of q339's
    // bin-packing — rows re-sorted by the Morton interleave of
    // (x, y) and re-split, so per-file (x, y) bounds become tight
    // BOXES instead of full-range stripes. The q381 law MEASURES the
    // point: a 2-D box predicate over the unclustered layout
    // intersects (almost) every file's bounds, over the z-ordered
    // layout only the files whose z-range meets the box — strictly
    // fewer (z_prunes). Correctness laws ride along: the rewrite
    // preserves rows exactly, scanning ONLY the bounds-hit files +
    // filter equals the full filtered scan on BOTH layouts (a wrong
    // skip is data loss), and the commit carries dataChange=false
    // throughout (a CDF consumer sees zero new rows). Sums re-derive
    // in DuckDB.
    "q381_delta_zorder" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          def fx(d: Long): Long = (d * 7) % 256
          def fy(d: Long): Long = (d * 13) % 256
          def fv(d: Long): Long = (d * 17) % 769
          val nF = 8
          val per = math.max(1, (ids.length + nF - 1) / nF)
          val parts = ids.grouped(per).toSeq
          val names = parts.indices.map(i => s"part-u$i.parquet")
          val data = parts.map(p => graft.sources.ParquetWrite
            .writeInt64(Seq("rec_id", "x", "y", "val"),
              p.map(d => Array(d, fx(d), fy(d), fv(d)))))
          val c0 = (Seq(W.protocolAction,
            W.metaDataAction(s"tbl-$t")) ++
            names.zip(data).map { case (n, d) =>
              W.addAction(n, d.length.toLong) })
            .mkString("\n") + "\n"
          val files = Map("_delta_log/00000000000000000000.json" ->
            c0.getBytes("UTF-8")) ++ names.zip(data)
          val (bLoX, bHiX, bLoY, bHiY) = (64L, 95L, 64L, 95L)
          def decode(table: Map[String, Array[Byte]], p: String) =
            for {
              b <- table.get(p)
              rs <- P.columnLongs(b, "rec_id")
              xs <- P.columnLongs(b, "x")
              ys <- P.columnLongs(b, "y")
              vs <- P.columnLongs(b, "val")
            } yield (0 until rs.length).map(i =>
              (rs(i), xs(i), ys(i), vs(i)))
          def boxScan(table: Map[String, Array[Byte]],
                      live: Seq[String]) = {
            val per2 = live.map(decode(table, _))
            if (per2.exists(_.isEmpty)) None
            else {
              val byFile = live.zip(per2.map(_.get))
              val hits = byFile.filter { case (_, rows) =>
                rows.nonEmpty &&
                  rows.map(_._2).min <= bHiX &&
                  rows.map(_._2).max >= bLoX &&
                  rows.map(_._3).min <= bHiY &&
                  rows.map(_._3).max >= bLoY
              }
              val hitRows = hits.flatMap(_._2).filter(r =>
                r._2 >= bLoX && r._2 <= bHiX &&
                  r._3 >= bLoY && r._3 <= bHiY)
              val allRows = byFile.flatMap(_._2).filter(r =>
                r._2 >= bLoX && r._2 <= bHiX &&
                  r._3 >= bLoY && r._3 <= bHiY)
              Some((hits.length, hitRows.sortBy(_._1),
                allRows.sortBy(_._1), byFile.flatMap(_._2)))
            }
          }
          val res = for {
            z <- W.optimizeZOrder(files, nF)
            table = files ++ z.newFiles +
              (z.commitName -> z.commit)
            liveAfter <- W.replayLive(table).map(_._1)
            linear <- boxScan(files, names)
            zscan <- boxScan(table, liveAfter)
          } yield {
            val (hitsL, hitRowsL, allRowsL, fullL) = linear
            val (hitsZ, hitRowsZ, allRowsZ, fullZ) = zscan
            val zPrunes = hitsZ < hitsL
            val noWrongSkip = hitRowsL == allRowsL &&
              hitRowsZ == allRowsZ && allRowsL == allRowsZ
            val rowsPreserved =
              fullL.sortBy(_._1) == fullZ.sortBy(_._1) &&
                z.rows == fullL.length.toLong
            val dcOk = !new String(z.commit, "UTF-8")
              .contains("\"dataChange\": true")
            (t, fullL.length.toLong, fullL.map(_._4).sum,
              allRowsL.length.toLong, allRowsL.map(_._4).sum,
              if (zPrunes) 1L else 0L,
              if (noWrongSkip) 1L else 0L,
              if (rowsPreserved) 1L else 0L,
              if (dcOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_rows", "val_sum", "n_box_rows",
            "box_val_sum", "z_prunes", "no_wrong_skip",
            "rows_preserved", "datachange_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 7) % 256 AS x,
                 (doc_id * 13) % 256 AS y,
                 (doc_id * 17) % 769 AS v
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(sum(CASE WHEN x BETWEEN 64 AND 95 AND
                 y BETWEEN 64 AND 95 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_box_rows,
               CAST(sum(CASE WHEN x BETWEEN 64 AND 95 AND
                 y BETWEEN 64 AND 95 THEN v ELSE 0 END) AS BIGINT)
                 AS box_val_sum,
               CAST(1 AS BIGINT) AS z_prunes,
               CAST(1 AS BIGINT) AS no_wrong_skip,
               CAST(1 AS BIGINT) AS rows_preserved,
               CAST(1 AS BIGINT) AS datachange_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q382 — Hudi ROLLBACK: the lifecycle op that makes FAILED
    // writes harmless, completing the maintenance triple with
    // compaction (q336) and clean (q361). Two pending instants die
    // per blob: t5, whose block shares a COMPLETED log file — since
    // object-store logs are append-only, rollback appends a COMMAND
    // block targeting it, never carves bytes — and t4, whose log
    // file is all-target and dies outright with its inflight marker.
    // Laws: the merged replay is IDENTICAL before and after (pending
    // blocks were never applied — q315's discipline — so rollback
    // must be invisible to readers); a COMPLETED instant is REFUSED
    // (undoing history is restore's job); a second rollback is a
    // no-op. Merged sums re-derive in DuckDB per the q318 MOR rules.
    "q382_hudi_rollback" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val H = graft.sources.HudiLog
          val t4 = "00000000000004"; val t5 = "00000000000005"
          val log0 = "p/.fg0_00000000000001.log.1_0-0-0"
          val log1 = "p/.fg1_00000000000001.log.1_0-0-0"
          val files0 = W.writeMorTable(ids)
          val extra = H.writeBlock(H.TypeAvroData,
            Seq(H.HdrInstantTime -> t5,
              H.HdrSchema -> W.LogRecSchema),
            H.dataContent(Seq(W.avroRec(999999L, 999L))))
          val files = files0 +
            (log0 -> (files0(log0) ++ extra)) +
            (s".hoodie/$t5.deltacommit.inflight" ->
              "{}".getBytes("UTF-8"))
          val res = for {
            before <- W.replay(files)
            r1 <- W.rollback(files, t5, "00000000000006")
            f1 = (files -- r1.deleted) ++ r1.appendedLogs +
              (r1.timelineName -> r1.timeline)
            r2 <- W.rollback(f1, t4, "00000000000007")
            f2 = (f1 -- r2.deleted) ++ r2.appendedLogs +
              (r2.timelineName -> r2.timeline)
            after <- W.replay(f2)
            r3 <- W.rollback(f2, t5, "00000000000008")
          } yield {
            val cmdAppended =
              r1.appendedLogs.keySet == Set(log0) &&
                H.parse(f1(log0)).exists(bs =>
                  bs.last.blockType == H.TypeCommand &&
                    bs.last.target == t5)
            val r2Ok = r2.deleted.toSet == Set(log1,
              s".hoodie/$t4.deltacommit.inflight") &&
              r2.appendedLogs.isEmpty
            val replayStable =
              before.map(f => (f.fileId, f.rows)) ==
                after.map(f => (f.fileId, f.rows))
            val refused = W.rollback(f2, "00000000000002",
              "00000000000009").isEmpty
            val idempotent =
              r3.deleted.isEmpty && r3.appendedLogs.isEmpty
            val rows = after.flatMap(_.rows)
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum,
              if (cmdAppended) 1L else 0L,
              if (r2Ok) 1L else 0L,
              if (replayStable) 1L else 0L,
              if (refused) 1L else 0L,
              if (idempotent) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "cmd_appended", "all_target_deleted", "replay_stable",
            "completed_refused", "idempotent_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 991 AS v
          FROM documents),
        live AS (
          SELECT table_id, d,
                 CASE WHEN fg = 0 AND d % 3 = 0 THEN v + 7 ELSE v END
                   AS val
          FROM r WHERE fg = 1 OR d % 5 <> 0)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(val) AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS cmd_appended,
               CAST(1 AS BIGINT) AS all_target_deleted,
               CAST(1 AS BIGINT) AS replay_stable,
               CAST(1 AS BIGINT) AS completed_refused,
               CAST(1 AS BIGINT) AS idempotent_ok
        FROM live GROUP BY table_id"""),
      headline = false),

    // q383 — Delta RESTORE: time travel as a WRITE — a new commit
    // re-adds the target version's files and removes what the target
    // lacks, so history is PRESERVED (the restore is itself version
    // 2, nothing is rewound) and the post-restore replay equals the
    // target's exactly. Actions carry dataChange=true (a restore IS
    // a data change; CDF consumers must see it — the inverse of
    // OPTIMIZE/ZORDER's false). Restoring the current version yields
    // ZERO actions; restoring past the vacuum horizon (a re-added
    // file's bytes reclaimed) fails CLOSED. Post-restore rows
    // re-derive in DuckDB (generations 0 and 1 — version 0's view).
    "q383_delta_restore" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          val files = W.writeTable(s"tbl-$t", ids)
          val res = for {
            r <- W.restore(files, 0L)
            restored = files + (r.commitName -> r.commit)
            after <- W.replayLiveSized(restored, 2L)
            atV0 <- W.replayLiveSized(files, 0L)
            rows <- {
              val per = after.keys.toSeq.sorted.map { p =>
                for {
                  b <- restored.get(p)
                  rs <- P.columnLongs(b, "rec_id")
                  vs <- P.columnLongs(b, "val")
                  if rs.length == vs.length
                } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
            noop <- W.restore(files, 1L)
          } yield {
            val roundtrip = after == atV0
            val actionsOk = r.adds == Seq("part-B.parquet") &&
              r.removes == Seq("part-C.parquet")
            val noopOk = noop.adds.isEmpty && noop.removes.isEmpty
            val dcOk = new String(r.commit, "UTF-8")
              .split("\n").filter(_.nonEmpty)
              .forall(_.contains("\"dataChange\": true"))
            val vacuumClosed =
              W.restore(files - "part-B.parquet", 0L).isEmpty
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum,
              if (roundtrip) 1L else 0L,
              if (actionsOk) 1L else 0L,
              if (noopOk) 1L else 0L,
              if (dcOk) 1L else 0L,
              if (vacuumClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "roundtrip_ok", "actions_ok", "noop_ok",
            "datachange_ok", "vacuum_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS gen3,
                 (doc_id * 11) % 1000 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen3 <> 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN gen3 <> 2 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen3 <> 2 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS roundtrip_ok,
               CAST(1 AS BIGINT) AS actions_ok,
               CAST(1 AS BIGINT) AS noop_ok,
               CAST(1 AS BIGINT) AS datachange_ok,
               CAST(1 AS BIGINT) AS vacuum_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q384 — Iceberg ROLLBACK TO SNAPSHOT: q383's twin on the other
    // format, and pure METADATA — the successor metadata file points
    // current (and main) back at snapshot 2 of the q369 four-
    // snapshot history while every snapshot STAYS: the rolled-past
    // compaction and append remain time-travelable (scan at 4 still
    // answers), the incremental walk still folds from the restored
    // point, and only expire_snapshots (q338/q367's ref rules) ever
    // deletes. An unknown snapshot id is refused. Rows at the
    // restored current re-derive in DuckDB (generations 0 and 1).
    "q384_iceberg_rollback_to" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 27) % 929
          val files = W.writeIncrTable(s"tbl-$t", ids, v)
          val res = for {
            (mName, mBytes) <- W.rollbackTo(files,
              "v1.metadata.json", 2L)
            rolled = files + (mName -> mBytes)
            cur <- W.resolveRef(rolled, mName, "main")
            nowRows <- W.scanSnapshot(rolled, mName, cur)
            ttRows <- W.scanSnapshot(rolled, mName, 4L)
            inc <- W.incrementalScan(rolled, mName, 2L, 4L)
          } yield {
            def srt(xs: Seq[(Long, Long)]) = xs.sorted
            val ttOk = srt(ttRows) ==
              ids.sorted.map(d => (d, v(d)))
            val foldOk = srt(nowRows ++ inc.rows) == srt(ttRows)
            val refused = W.rollbackTo(rolled, mName, 9L).isEmpty
            (t, cur, nowRows.length.toLong,
              nowRows.map(_._1).sum, nowRows.map(_._2).sum,
              if (ttOk) 1L else 0L,
              if (foldOk) 1L else 0L,
              if (refused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "current_sid", "n_rows", "id_sum",
            "val_sum", "timetravel_ok", "fold_ok",
            "unknown_refused")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 27) % 929 AS v
          FROM documents)
        SELECT table_id,
               CAST(2 AS BIGINT) AS current_sid,
               CAST(sum(CASE WHEN gen4 <= 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN gen4 <= 1 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen4 <= 1 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS timetravel_ok,
               CAST(1 AS BIGINT) AS fold_ok,
               CAST(1 AS BIGINT) AS unknown_refused
        FROM r GROUP BY table_id"""),
      headline = false),

    // q385 — ORC STRIPE SPLITS: the third format's split contract
    // (Avro q379, parquet q380) — a stripe belongs to the byte split
    // containing its START offset, so ANY partition of a
    // multi-stripe file's range claims every stripe exactly once.
    // The engine's writer gained the multi-stripe form (stripes ARE
    // ORC's parallelism unit; a single-stripe 100 TB file cannot fan
    // out), OrcSpec cross-reads it through orc-core, and the query
    // pins: 3-way and 7-way tilings are exact, per-split per-stripe
    // decoded sums reconcile to the whole file, and out-of-range
    // splits claim nothing. Sums re-derive in DuckDB.
    "q385_orc_stripe_split" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.OrcWrite
          val O = graft.sources.Orc
          def v(d: Long): Long = (d * 43) % 863
          val per = math.max(1, (ids.length + 7) / 8)
          val bytes = W.writeLongsStripes(Seq("rec_id", "val"),
            ids.map(d => Array(d, v(d))), per)
          val res = for {
            tail <- O.parseTail(bytes)
            tiled <- {
              def tile(n: Int): Option[(Long, Long, Long)] = {
                val len = bytes.length.toLong
                val cuts = (0 to n).map(k => len * k / n)
                val claimed = cuts.sliding(2).toSeq.flatMap {
                  case Seq(a, b) => W.stripesForSplit(tail, a, b)
                }
                if (claimed.sorted !=
                  tail.stripes.indices.toSeq) None
                else {
                  val per2 = claimed.map { i =>
                    for {
                      rs <- O.stripeColumnLongs(bytes, tail,
                        tail.stripes(i), 1)
                      vs <- O.stripeColumnLongs(bytes, tail,
                        tail.stripes(i), 2)
                      if rs.length == vs.length
                    } yield (rs.length.toLong, rs.sum, vs.sum)
                  }
                  if (per2.exists(_.isEmpty)) None
                  else Some((per2.map(_.get._1).sum,
                    per2.map(_.get._2).sum,
                    per2.map(_.get._3).sum))
                }
              }
              for { a <- tile(3); b <- tile(7) } yield (a, b)
            }
          } yield {
            val (t3, t7) = tiled
            val tileOk = t3 == t7
            val emptyOk = W.stripesForSplit(tail,
              bytes.length.toLong + 3, bytes.length.toLong + 9)
              .isEmpty
            (t, t3._1, t3._2, t3._3,
              tail.stripes.length.toLong,
              if (tileOk) 1L else 0L,
              if (emptyOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_rows", "id_sum", "val_sum",
            "n_stripes", "tile_ok", "empty_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 43) % 863 AS v
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(8 AS BIGINT) AS n_stripes,
               CAST(1 AS BIGINT) AS tile_ok,
               CAST(1 AS BIGINT) AS empty_ok
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q386 — Delta SHALLOW CLONE: the dev/test-fork primitive at
    // 100 TB — a new table whose commit 0 re-declares the source's
    // live files BY PATH, zero data bytes copied. Laws per blob: the
    // clone's replay equals the source's state at clone time
    // (paths + sizes); ISOLATION both ways — a source commit after
    // the clone (remove A) does not reach the clone, and a clone
    // commit (remove C) does not reach the source; and the
    // documented trade fails CLOSED — a source vacuum reclaiming a
    // borrowed file breaks the clone's read visibly, never silently.
    // Clone rows (version-1 view: A and C) re-derive in DuckDB.
    "q386_delta_shallow_clone" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          val source = W.writeTable(s"tbl-$t", ids)
          def readRows(log: Map[String, Array[Byte]],
                       data: Map[String, Array[Byte]],
                       version: Long) =
            W.replayLiveSized(log, version).flatMap { live =>
              val per = live.toSeq.sortBy(_._1).map {
                case (p, sz) =>
                  for {
                    b <- data.get(p)
                    if b.length.toLong == sz
                    rs <- P.columnLongs(b, "rec_id")
                    vs <- P.columnLongs(b, "val")
                    if rs.length == vs.length
                  } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
          val res = for {
            clone <- W.shallowClone(source, 1L, s"clone-$t")
            srcState <- W.replayLiveSized(source, 1L)
            cloneState <- W.replayLiveSized(clone, 0L)
            rows <- readRows(clone, source, 0L)
          } yield {
            val cloneMatches = cloneState == srcState
            // source evolves: remove A at source v2 — clone blind
            val src2 = source +
              ("_delta_log/00000000000000000002.json" ->
                (W.removeAction("part-A.parquet") + "\n")
                  .getBytes("UTF-8"))
            val isolation1 =
              W.replayLiveSized(clone, 0L).contains(cloneState) &&
                W.replayLiveSized(src2, 2L).exists(
                  !_.contains("part-A.parquet"))
            // clone evolves: remove C at clone v1 — source blind
            val clone2 = clone +
              ("_delta_log/00000000000000000001.json" ->
                (W.removeAction("part-C.parquet") + "\n")
                  .getBytes("UTF-8"))
            val isolation2 =
              W.replayLiveSized(clone2, 1L).exists(
                !_.contains("part-C.parquet")) &&
                W.replayLiveSized(source, 1L).exists(
                  _.contains("part-C.parquet"))
            // vacuum hazard: the borrowed file's bytes vanish —
            // the clone's read fails CLOSED
            val vacuumClosed =
              readRows(clone, source - "part-C.parquet", 0L).isEmpty
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum,
              if (cloneMatches) 1L else 0L,
              if (isolation1) 1L else 0L,
              if (isolation2) 1L else 0L,
              if (vacuumClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "clone_matches", "source_isolated", "clone_isolated",
            "vacuum_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS gen3,
                 (doc_id * 11) % 1000 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen3 <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN gen3 <> 1 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen3 <> 1 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS clone_matches,
               CAST(1 AS BIGINT) AS source_isolated,
               CAST(1 AS BIGINT) AS clone_isolated,
               CAST(1 AS BIGINT) AS vacuum_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q387 — Iceberg v3 DELETION VECTORS: the current spec's
    // evolution of row-level deletes — instead of a position-delete
    // parquet, a PUFFIN file whose deletion-vector-v1 blob carries
    // the roaring bitmap of dead positions (the same portable 64-bit
    // layout the Delta DV stack q340 pins), with target and
    // cardinality in blob properties, referenced by a content-1
    // manifest entry with file_format PUFFIN. The referee is
    // REPRESENTATION EQUALITY: the SAME deletions expressed as v2
    // parquet and as a v3 DV must scan identically at EVERY snapshot
    // and changelog identically over the full range — plus the
    // cardinality law (a mismatched property closes the scan) and
    // the blob's roundtrip through the own puffin reader. Final
    // rows re-derive in DuckDB.
    "q387_iceberg_v3_deletion_vectors" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.IcebergWrite
          def v(d: Long): Long = (d * 29) % 997
          val meta = "v1.metadata.json"
          val pdT = W.writeChangelogTable(s"pd-$t", ids, v)
          val dvT = W.writeDvChangelogTable(s"dv-$t", ids, v)
          val res = for {
            scansEqual <- {
              val per = (1L to 4L).map { sid =>
                for {
                  a <- W.scanSnapshotMor(pdT, meta, sid)
                  b <- W.scanSnapshotMor(dvT, meta, sid)
                } yield a.sorted == b.sorted
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.forall(_.get))
            }
            cdcP <- W.changelogScan(pdT, meta, 1L, 4L)
            cdcD <- W.changelogScan(dvT, meta, 1L, 4L)
            finalScan <- W.scanSnapshotMor(dvT, meta, 4L)
          } yield {
            def key(c: W.Change) =
              (c.changeType, c.sid, c.recId, c.value)
            val cdcEqual =
              cdcP.map(key).sorted == cdcD.map(key).sorted
            val blobOk = (for {
              (blobs, _) <- graft.sources.Puffin
                .read(dvT("dv-3.puffin"))
              (bm, data) <- blobs.headOption
              bits <- graft.sources.DeletionVectors.bitmap(data)
            } yield bm.tpe == "deletion-vector-v1" &&
              bm.properties.get("referenced-data-file")
                .contains("data/a.parquet") &&
              bm.properties.get("cardinality")
                .contains(bits.length.toString))
              .getOrElse(false)
            val cardClosed = (for {
              (blobs, _) <- graft.sources.Puffin
                .read(dvT("dv-3.puffin"))
              (bm, data) <- blobs.headOption
            } yield {
              val bad = graft.sources.Puffin.write(Seq(
                graft.sources.Puffin.Blob(bm.tpe, bm.fields,
                  bm.snapshotId, bm.sequenceNumber, data,
                  bm.properties + ("cardinality" ->
                    (bm.properties("cardinality").toLong + 1)
                      .toString))),
                Map("created-by" -> "graft"))
              W.scanSnapshotMor(dvT + ("dv-3.puffin" -> bad),
                meta, 4L).isEmpty
            }).getOrElse(false)
            val nDel = cdcD.count(_.changeType == "DELETE").toLong
            (t, finalScan.length.toLong,
              finalScan.map(_._1).sum, finalScan.map(_._2).sum,
              nDel,
              if (scansEqual) 1L else 0L,
              if (cdcEqual) 1L else 0L,
              if (blobOk) 1L else 0L,
              if (cardClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_final", "id_sum", "val_sum",
            "n_deletes", "scans_equal", "cdc_equal", "blob_ok",
            "cardinality_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4,
                 (doc_id * 29) % 997 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 <> 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 <> 0
                 THEN d ELSE 0 END) AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen4 <> 0 OR d % 5 <> 0
                 THEN v ELSE 0 END) AS BIGINT) AS val_sum,
               CAST(sum(CASE WHEN gen4 = 0 AND d % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
               CAST(1 AS BIGINT) AS scans_equal,
               CAST(1 AS BIGINT) AS cdc_equal,
               CAST(1 AS BIGINT) AS blob_ok,
               CAST(1 AS BIGINT) AS cardinality_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q388 — Hudi RESTORE TO INSTANT: undo lands on the third
    // format (Delta q383 via a history-preserving commit, Iceberg
    // q384 via a metadata repoint) — and Hudi's is PHYSICAL: no
    // snapshot graph, so newer completed instants' base files and
    // their timeline entries really die; a MIXED log file survives
    // with its newer blocks gone dark (the timeline-skip rule masks
    // them — no byte surgery on append-only logs). Laws per blob:
    // restoring the MOR table to t2 undoes the t3 deletions exactly
    // (replay sums re-derive in DuckDB: updates applied, deletions
    // NOT), restoring the COW table to t1 kills the t2 rewrite,
    // restoring to the LATEST completed instant deletes NOTHING, and
    // a pending/unknown target is REFUSED.
    "q388_hudi_restore" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val mor = W.writeMorTable(ids)
          val cow = W.writeTable(ids)
          val res = for {
            rm <- W.restoreTo(mor, "00000000000002",
              "00000000000008")
            morRestored = (mor -- rm.deleted) +
              (rm.timelineName -> rm.timeline)
            morState <- W.replay(morRestored)
            rc <- W.restoreTo(cow, "00000000000001",
              "00000000000009")
            cowRestored = (cow -- rc.deleted) +
              (rc.timelineName -> rc.timeline)
            cowState <- W.replay(cowRestored)
            noop <- W.restoreTo(mor, "00000000000003",
              "00000000000008")
          } yield {
            val morDeletedOk =
              rm.deleted == Seq(".hoodie/00000000000003.deltacommit")
            val cowDeletedOk = rc.deleted.toSet == Set(
              "p/fg0_0-0-0_00000000000002.parquet",
              ".hoodie/00000000000002.commit")
            val noopOk = noop.deleted.isEmpty
            val refusedOk =
              W.restoreTo(mor, "00000000000004", "9".padTo(14, '0'))
                .isEmpty &&
                W.restoreTo(mor, "00000000000099", "9".padTo(14, '0'))
                  .isEmpty
            val morRows = morState.flatMap(_.rows)
            val cowRows = cowState.flatMap(_.rows)
            (t, morRows.length.toLong, morRows.map(_._2).sum,
              cowRows.length.toLong, cowRows.map(_._2).sum,
              if (morDeletedOk) 1L else 0L,
              if (cowDeletedOk) 1L else 0L,
              if (noopOk) 1L else 0L,
              if (refusedOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "mor_rows", "mor_val_sum", "cow_rows",
            "cow_val_sum", "mor_deleted_ok", "cow_deleted_ok",
            "noop_ok", "refused_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 991 AS vm,
                 (doc_id * 13) % 1000 AS vc
          FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS mor_rows,
               CAST(sum(CASE WHEN fg = 0 AND d % 3 = 0 THEN vm + 7
                 ELSE vm END) AS BIGINT) AS mor_val_sum,
               CAST(count(*) AS BIGINT) AS cow_rows,
               CAST(sum(vc) AS BIGINT) AS cow_val_sum,
               CAST(1 AS BIGINT) AS mor_deleted_ok,
               CAST(1 AS BIGINT) AS cow_deleted_ok,
               CAST(1 AS BIGINT) AS noop_ok,
               CAST(1 AS BIGINT) AS refused_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q389 — ORC MASTER-KEY ROTATION: the only rotation a 100 TB
    // lake can afford — the per-variant LOCAL keys (and therefore
    // every encrypted stream byte and encrypted statistic) never
    // change; only their 32-byte wrapped forms re-encrypt under the
    // new master, spliced IN PLACE. Laws per blob: rotation touches
    // at most the wrapped-key bytes (counted!), the new master
    // decrypts to the EXACT original plaintext (sums re-derive in
    // DuckDB), the OLD master stops working, and a wrong old master
    // fails CLOSED before any splice (the statistics key-check
    // runs first — no half-rotated file can ever be emitted).
    "q389_orc_key_rotation" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.OrcWrite
          val C = graft.sources.OrcCrypto
          val O = graft.sources.Orc
          def sal(d: Long): Long = (d * 47) % 1013
          def keyOf(seed: String) = Md5Hashes.digest(
            s"$seed:$t:${ids.length}".getBytes("UTF-8"))
          val m1 = keyOf("orcrot-old"); val m2 = keyOf("orcrot-new")
          val plain = W.writeTable(Seq(
            W.OLongCol("rec_id", ids.map(Some(_))),
            W.OLongCol("salary", ids.map(d => Some(sal(d))))),
            compression = 0, rowIndexStride = 64)
          val res = for {
            enc <- C.encryptFile(plain, m1, "pii", Set(2),
              deterministic = true)
            rot <- C.rotateMaster(enc, m1, m2, deterministic = true)
            back <- C.decryptFile(rot, m2)
            tb <- O.parseTail(back)
            rs <- O.stripeColumnLongs(back, tb, tb.stripes.head, 1)
            vs <- O.stripeColumnLongs(back, tb, tb.stripes.head, 2)
            if rs.length == vs.length
          } yield {
            val identity = java.util.Arrays.equals(back, plain)
            val spliceBound = rot.length == enc.length &&
              rot.indices.count(i => rot(i) != enc(i)) <= 32
            val oldDead = C.decryptFile(rot, m1).isEmpty
            val wrongOldClosed =
              C.rotateMaster(enc, m2, m1, deterministic = true)
                .isEmpty
            (t, rs.length.toLong, rs.sum, vs.sum,
              if (identity) 1L else 0L,
              if (spliceBound) 1L else 0L,
              if (oldDead) 1L else 0L,
              if (wrongOldClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("blob_id", "n_rows", "id_sum", "salary_sum",
            "identity_ok", "splice_bound_ok", "old_master_dead",
            "wrong_old_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 (doc_id * 47) % 1013 AS sal
          FROM documents)
        SELECT blob_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(sal) AS BIGINT) AS salary_sum,
               CAST(1 AS BIGINT) AS identity_ok,
               CAST(1 AS BIGINT) AS splice_bound_ok,
               CAST(1 AS BIGINT) AS old_master_dead,
               CAST(1 AS BIGINT) AS wrong_old_closed
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q390 — Delta → Iceberg MIGRATION, metadata-only: the
    // snapshot-table procedure a 100 TB lake migration rests on —
    // rewriting data would move the lake; this writes ONLY an
    // Iceberg manifest/list/metadata referencing the SAME parquet
    // files the Delta log declares live, with record counts PROVEN
    // by the own parquet reader at migrate time. Laws per blob: the
    // Iceberg scan of the migrated table equals the Delta replay
    // row-for-row; a post-migration Delta commit does NOT leak into
    // the Iceberg view (the migration is a snapshot, not a live
    // link); the Iceberg side is immediately a first-class table —
    // expire/incremental machinery accept it; and migrating a
    // vacuumed table (live bytes missing) fails CLOSED. Sums
    // re-derive in DuckDB (the v1 Delta view: generations 0 and 2).
    "q390_delta_to_iceberg_migrate" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val D = graft.sources.DeltaWrite
          val I = graft.sources.IcebergWrite
          val P = graft.sources.Parquet
          val delta = D.writeTable(s"tbl-$t", ids)
          val res = for {
            iceMeta <- I.migrateFromDelta(delta, s"ice-$t")
            ice = delta ++ iceMeta
            iceRows <- I.scanSnapshot(ice, "v1.metadata.json", 1L)
            deltaLive <- D.replayLiveSized(delta, 1L)
            deltaRows <- {
              val per = deltaLive.keys.toSeq.sorted.map { p =>
                for {
                  b <- delta.get(p)
                  rs <- P.columnLongs(b, "rec_id")
                  vs <- P.columnLongs(b, "val")
                  if rs.length == vs.length
                } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
          } yield {
            val scanEqual =
              iceRows.sorted == deltaRows.sorted
            // the migration is a SNAPSHOT: Delta evolving after it
            // must not leak into the Iceberg view
            val delta2 = delta +
              ("_delta_log/00000000000000000002.json" ->
                (D.removeAction("part-A.parquet") + "\n")
                  .getBytes("UTF-8"))
            val isolated = I.scanSnapshot(delta2 ++ iceMeta,
              "v1.metadata.json", 1L).exists(
              _.sorted == iceRows.sorted)
            // a vacuumed source cannot migrate
            val vacuumClosed = I.migrateFromDelta(
              delta - "part-C.parquet", s"ice-$t").isEmpty
            // the migrated table is first-class: expire accepts it
            val firstClass = I.expireSnapshots(ice,
              "v1.metadata.json", 1699999999999L).exists(
              _.nExpired == 0)
            (t, iceRows.length.toLong, iceRows.map(_._1).sum,
              iceRows.map(_._2).sum,
              if (scanEqual) 1L else 0L,
              if (isolated) 1L else 0L,
              if (vacuumClosed) 1L else 0L,
              if (firstClass) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "scan_equal", "snapshot_isolated", "vacuum_closed",
            "first_class")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS gen3,
                 (doc_id * 11) % 1000 AS v
          FROM documents)
        SELECT table_id,
               CAST(sum(CASE WHEN gen3 <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN gen3 <> 1 THEN d ELSE 0 END)
                 AS BIGINT) AS id_sum,
               CAST(sum(CASE WHEN gen3 <> 1 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS scan_equal,
               CAST(1 AS BIGINT) AS snapshot_isolated,
               CAST(1 AS BIGINT) AS vacuum_closed,
               CAST(1 AS BIGINT) AS first_class
        FROM r GROUP BY table_id"""),
      headline = false),

    // q364 — theta set ALGEBRA for snapshot-delta accounting
    // (q363's union completed with intersect and a-not-b, the
    // datasketches operators a stats-driven planner runs between TWO
    // snapshots' puffin files): "how many values does this snapshot
    // ADD" (aNotB new\\old), "how much do generations SHARE"
    // (intersect) — all from KB-size sketches, never a rescan. Exact
    // mode makes every output a DuckDB count(DISTINCT ...) equality,
    // and the exact-mode partition identity |old ∪ new| = |old| +
    // |new \\ old| is checked on the engine's own bytes (PuffinSpec
    // pins all three operators against datasketches' own).
    "q364_theta_set_algebra" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val T = graft.sources.ThetaSketch
          def v(d: Long): Long = (d * 17) % 43
          val oldV = ids.filter(d => (d / 6) % 4 != 1).map(v)
          val newV = ids.filter(d => (d / 6) % 4 == 1).map(v)
          val skOld = T.compact(oldV)
          val skNew = T.compact(newV)
          val res = for {
            added <- T.aNotB(skNew, skOld)
            shared <- T.intersect(Seq(skOld, skNew))
            u <- T.union(Seq(skOld, skNew))
            rAdd <- T.parse(added)
            rShared <- T.parse(shared)
            rU <- T.parse(u)
            rOld <- T.parse(skOld)
          } yield {
            val partitionLaw =
              if (rU.estimate == rOld.estimate + rAdd.estimate) 1L
              else 0L
            (t, rOld.estimate.round, rAdd.estimate.round,
              rShared.estimate.round, rU.estimate.round,
              partitionLaw)
          }
          res.toSeq
        }.toDF("table_id", "ndv_old", "ndv_added", "ndv_shared",
            "ndv_union", "partition_law")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS gen4, (doc_id * 17) % 43 AS v
          FROM documents),
        o AS (SELECT DISTINCT table_id, v FROM r WHERE gen4 <> 1),
        n AS (SELECT DISTINCT table_id, v FROM r WHERE gen4 = 1)
        SELECT t.table_id,
               (SELECT CAST(count(*) AS BIGINT) FROM o
                WHERE o.table_id = t.table_id) AS ndv_old,
               (SELECT CAST(count(*) AS BIGINT) FROM n
                WHERE n.table_id = t.table_id
                  AND n.v NOT IN (SELECT v FROM o
                    WHERE o.table_id = t.table_id)) AS ndv_added,
               (SELECT CAST(count(*) AS BIGINT) FROM n
                WHERE n.table_id = t.table_id
                  AND n.v IN (SELECT v FROM o
                    WHERE o.table_id = t.table_id)) AS ndv_shared,
               (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM r r2
                WHERE r2.table_id = t.table_id) AS ndv_union,
               CAST(1 AS BIGINT) AS partition_law
        FROM (SELECT DISTINCT table_id FROM r) t"""),
      headline = false),

    // q391 — Hudi MDT RECORD-LEVEL INDEX: the partition that makes
    // UPSERTS plannable at 100 TB — key -> (partitionPath, fileId)
    // location records, so tagging an incoming batch against
    // existing file groups is an index lookup instead of reading a
    // bloom filter from every base file or a full join (the
    // reference's per-row existence probe, database_utils.py:128-145,
    // as an index). Built per completed instant through the own
    // HudiLog writer over the q318 MOR timeline (base adds index
    // keys, log updates keep their file group, delete blocks
    // tombstone keys, the inflight t4 poison never enters). Laws:
    // RLI-planned tagging ≡ full-scan (replay) tagging key-for-key;
    // an orphan base file's records fool the scan but are INVISIBLE
    // to the RLI; COMPACTION preserves every location (fileIds
    // survive) with append ≡ rebuild BYTE-exact on the log; CLEAN
    // changes no membership and tagging still matches the cleaned
    // replay; ROLLBACK of the pending instant leaves the RLI
    // consistent without any repair. Live counts re-derive in DuckDB
    // per the q318 MOR merge rules.
    "q391_hudi_record_index" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val t5 = "00000000000005"; val t6 = "00000000000006"
          val files = W.writeMorTable(ids)
          val res = for {
            rli <- M.syncRecordIndex(files)
            table = files ++ rli
            idx <- M.recordIndexListing(table)
            fgs <- W.replay(files)
            fullScan = fgs.flatMap(f =>
              f.rows.map(r => r._1 -> ("p", f.fileId))).toMap
            // compaction: new bases at t5, locations preserved
            cf <- W.compact(files, t5)
            compacted = table ++ cf
            rli2 <- M.appendRecordIndex(rli, compacted, t5,
              "commit")
            idx2 <- M.recordIndexListing(compacted ++ rli2)
            // append ≡ rebuild, byte-exact on the log
            rebuilt <- M.syncRecordIndex(compacted)
            // clean reclaims replaced slices; membership unchanged
            cr <- W.clean(compacted, t6)
            cleaned = (compacted ++ rli2 -- cr.deleted) +
              (cr.timelineName -> cr.timeline)
            rli3 <- M.appendRecordIndex(rli2, cleaned, t6, "clean")
            cleanedAll = cleaned ++ rli3
            idx3 <- M.recordIndexListing(cleanedAll)
            cleanScan <- W.replay(cleanedAll)
            // rollback of the pending t4: RLI needs no repair
            rb <- W.rollback(cleanedAll, "00000000000004",
              "00000000000007")
            rolledBack = (cleanedAll -- rb.deleted) ++
              rb.appendedLogs + (rb.timelineName -> rb.timeline)
            rbScan <- W.replay(rolledBack)
            idx4 <- M.recordIndexListing(rolledBack)
          } yield {
            val tagMatch = idx == fullScan &&
              ids.forall(d => idx.get(d) == fullScan.get(d))
            val orphan = "p/fg9_0-0-0_00000000000001.parquet"
            val withOrphan = table + (orphan ->
              graft.sources.ParquetWrite.writeInt64(
                Seq("rec_id", "val"), Seq(Array(999999L, 999L))))
            val orphanInvisible = W.replay(withOrphan).exists(
              _.exists(_.rows.exists(_._1 == 999999L))) &&
              M.recordIndexListing(withOrphan)
                .exists(!_.contains(999999L))
            val compactStable = idx2 == idx
            val rebuildExact = java.util.Arrays.equals(
              rebuilt(M.RecordIndexLogPath),
              rli2(M.RecordIndexLogPath))
            val cleanOk = idx3 == idx2 &&
              idx3 == cleanScan.flatMap(f =>
                f.rows.map(r => r._1 -> ("p", f.fileId))).toMap
            val rollbackOk = idx4 == idx3 &&
              idx4 == rbScan.flatMap(f =>
                f.rows.map(r => r._1 -> ("p", f.fileId))).toMap
            val nFg0 = idx.count(_._2._2 == "fg0").toLong
            val nFg1 = idx.count(_._2._2 == "fg1").toLong
            (t, idx.size.toLong, idx.keys.sum, nFg0, nFg1,
              if (tagMatch) 1L else 0L,
              if (orphanInvisible) 1L else 0L,
              if (compactStable) 1L else 0L,
              if (rebuildExact) 1L else 0L,
              if (cleanOk) 1L else 0L,
              if (rollbackOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_live", "live_key_sum", "n_fg0",
            "n_fg1", "tag_match", "orphan_invisible",
            "compact_stable", "rebuild_exact", "clean_ok",
            "rollback_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg
          FROM documents),
        live AS (
          SELECT table_id, d, fg FROM r WHERE fg = 1 OR d % 5 <> 0)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(d) AS BIGINT) AS live_key_sum,
               CAST(sum(CASE WHEN fg = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_fg0,
               CAST(sum(CASE WHEN fg = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_fg1,
               CAST(1 AS BIGINT) AS tag_match,
               CAST(1 AS BIGINT) AS orphan_invisible,
               CAST(1 AS BIGINT) AS compact_stable,
               CAST(1 AS BIGINT) AS rebuild_exact,
               CAST(1 AS BIGINT) AS clean_ok,
               CAST(1 AS BIGINT) AS rollback_ok
        FROM live GROUP BY table_id"""),
      headline = false),

    // q392 — Iceberg v3 ROW LINEAGE: `next-row-id` in table
    // metadata, `first-row-id` on snapshots/manifests/data files,
    // per-row ids inherited as first_row_id + position — the
    // identity that lets a CDC feed (q375) and a materialized view
    // (q378) key rows WITHOUT content hashing. The five-snapshot
    // history pins every rule: appends inherit fresh id blocks; the
    // REPLACE compaction MATERIALIZES `_row_id` into the rewritten
    // file (a single first_row_id cannot represent an interleaved
    // merge — the spec's rewrite rule) so every surviving id is
    // STABLE across compaction, while the replace still claims a
    // fresh block (ids never reused); the deletion vector (q387)
    // kills by position without disturbing surviving ids; the
    // row-id diff between snapshots IS the changelog; an
    // unassignable id or a duplicated id fails the scan CLOSED.
    // Final-state sums re-derive in DuckDB with window-function row
    // ids.
    "q392_iceberg_row_lineage" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          def vf(d: Long): Long = (d * 29) % 997
          val files = I.writeLineageTable(s"lin-$t", ids, vf)
          val meta = "v1.metadata.json"
          val res = for {
            s1 <- I.lineageScan(files, meta, 1L)
            s2 <- I.lineageScan(files, meta, 2L)
            s3 <- I.lineageScan(files, meta, 3L)
            s4 <- I.lineageScan(files, meta, 4L)
            s5 <- I.lineageScan(files, meta, 5L)
            nri <- I.nextRowId(files, meta)
          } yield {
            def gen(d: Long) = (d / 6) % 4
            val a = ids.filter(gen(_) == 0).sorted
            val b = ids.filter(gen(_) == 1).sorted
            val na = a.length.toLong; val nb = b.length.toLong
            val assignOk =
              s1 == a.zipWithIndex.map { case (d, i) =>
                (i.toLong, d, vf(d)) } &&
              s2.toSet == (a.zipWithIndex.map { case (d, i) =>
                (i.toLong, d, vf(d)) } ++
                b.zipWithIndex.map { case (d, i) =>
                  (na + i, d, vf(d)) }).toSet
            val compactStable = s3.toSet == s2.toSet
            val newRids = s4.map(_._1).toSet -- s3.map(_._1).toSet
            val noReuse = newRids.forall(_ >= 2L * (na + nb)) &&
              newRids.size == s4.length - s3.length
            val expectDead =
              s3.filter(_._2 % 5 == 0).map(_._1).toSet
            val delRids = s4.map(_._1).toSet -- s5.map(_._1).toSet
            val dvStable = delRids == expectDead &&
              s5.toSet == s4.filterNot(r =>
                expectDead(r._1)).toSet
            // the row-id diff IS the changelog: applying it to
            // scan(from) yields scan(to) at both boundaries
            val changelogOk =
              (s3.map(_._1).toSet ++ newRids) ==
                s4.map(_._1).toSet &&
              (s4.toSet -- s5.toSet)
                .forall(r => expectDead(r._1))
            val nriOk = nri == 2L * (na + nb) + newRids.size &&
              s4.map(_._1).max == nri - 1L
            // fail closed: no manifest block and no entry id
            val AW = graft.sources.AvroWrite
            val mA = files("m-a.avro")
            val badL1 = AW.container(I.ListSchemaLin, Seq(
              I.manifestFileRowLin("m-a.avro", mA.length.toLong,
                0, 1L, na, None)), syncSeed = s"lin-$t")
            val failClosed = I.lineageScan(
              files + ("snap-1.avro" -> badL1), meta, 1L).isEmpty
            // duplicate ids refuse: mD's block spliced onto C's
            val mC = files("m-c.avro"); val mD = files("m-d.avro")
            val badL4 = AW.container(I.ListSchemaLin, Seq(
              I.manifestFileRowLin("m-c.avro", mC.length.toLong,
                0, 3L, na + nb, Some(na + nb)),
              I.manifestFileRowLin("m-d.avro", mD.length.toLong,
                0, 4L, newRids.size.toLong, Some(0L))),
              syncSeed = s"lin-$t")
            val dupRefused = I.lineageScan(
              files + ("snap-4.avro" -> badL4), meta, 4L).isEmpty
            (t, s5.length.toLong, s5.map(_._1).sum,
              s5.map(_._2).sum, s5.map(_._3).sum, nri,
              newRids.size.toLong, delRids.size.toLong,
              if (assignOk) 1L else 0L,
              if (compactStable) 1L else 0L,
              if (noReuse) 1L else 0L,
              if (dvStable) 1L else 0L,
              if (changelogOk) 1L else 0L,
              if (nriOk) 1L else 0L,
              if (failClosed && dupRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_final", "rid_sum_final",
            "key_sum_final", "val_sum_final", "next_row_id",
            "n_inserts", "n_deletes", "assign_ok", "compact_stable",
            "no_reuse", "dv_stable", "changelog_ok", "next_id_ok",
            "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 CASE WHEN (doc_id // 6) % 4 >= 2 THEN 2
                      ELSE (doc_id // 6) % 4 END AS g,
                 (doc_id * 29) % 997 AS v
          FROM documents),
        c AS (
          SELECT table_id,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb,
                 sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS nd
          FROM r GROUP BY table_id),
        w AS (
          SELECT r.table_id, r.d, r.v, r.g,
                 CASE WHEN r.g = 0 THEN
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                      WHEN r.g = 1 THEN c.na +
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                      ELSE 2 * (c.na + c.nb) +
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                 END AS rid
          FROM r JOIN c USING (table_id))
        SELECT w.table_id,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN 1
                 ELSE 0 END) AS BIGINT) AS n_final,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN rid
                 ELSE 0 END) AS BIGINT) AS rid_sum_final,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN d
                 ELSE 0 END) AS BIGINT) AS key_sum_final,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN v
                 ELSE 0 END) AS BIGINT) AS val_sum_final,
               CAST(min(2 * (c.na + c.nb) + c.nd) AS BIGINT)
                 AS next_row_id,
               CAST(min(c.nd) AS BIGINT) AS n_inserts,
               CAST(sum(CASE WHEN g <= 1 AND d % 5 = 0 THEN 1
                 ELSE 0 END) AS BIGINT) AS n_deletes,
               CAST(1 AS BIGINT) AS assign_ok,
               CAST(1 AS BIGINT) AS compact_stable,
               CAST(1 AS BIGINT) AS no_reuse,
               CAST(1 AS BIGINT) AS dv_stable,
               CAST(1 AS BIGINT) AS changelog_ok,
               CAST(1 AS BIGINT) AS next_id_ok,
               CAST(1 AS BIGINT) AS fail_closed
        FROM w JOIN c USING (table_id) GROUP BY w.table_id"""),
      headline = false),

    // q393 — Delta ROW TRACKING: the `rowTracking` writer feature —
    // `baseRowId`/`defaultRowCommitVersion` on add actions, the
    // high-water mark in a `domainMetadata` action, protocol-gated
    // at minWriterVersion 7 so a classic writer REFUSES to commit
    // (the q370 fail-closed pattern, write side). Laws: assignment
    // is baseRowId + position; OPTIMIZE ZORDER (q381,
    // dataChange=false) MATERIALIZES `_row_id` into the rewritten
    // files so every id is byte-stable across the rewrite, while
    // the rewrite still claims a fresh block (ids never reused);
    // a SHALLOW CLONE (q386) re-declares live adds WITH their
    // baseRowIds + the mark, so an independent replay of the clone
    // assigns EXACTLY the source's ids; an add with neither
    // baseRowId nor materialized ids, or an id above the mark,
    // fails CLOSED. Sums re-derive in DuckDB with window-function
    // row ids.
    "q393_delta_row_tracking" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val files = W.writeRowTrackingTable(s"rt-$t", ids)
          val n = ids.length.toLong
          val res = for {
            st <- W.replayRowTracking(files)
            z <- W.optimizeZOrderRt(files, 2)
            zTable = files + (z.commitName -> z.commit) ++
              z.newFiles
            st2 <- W.replayRowTracking(zTable)
            cloneLog <- W.shallowCloneRt(files, s"rt-clone-$t")
            cloneTable = cloneLog ++
              files.filterNot(_._1.startsWith("_delta_log/"))
            st3 <- W.replayRowTracking(cloneTable)
          } yield {
            val parts = (0 to 2).map(x =>
              ids.filter(d => (d / 6) % 3 == x).sorted)
            val offs = Seq(0L, parts(0).length.toLong,
              (parts(0).length + parts(1).length).toLong)
            val expect = (0 to 2).flatMap(g =>
              parts(g).zipWithIndex.map { case (d, i) =>
                (offs(g) + i, d, (d * 31) % 1009) }).toSet
            val assignOk = st.rows.toSet == expect &&
              st.highWaterMark == n - 1L
            val zorderStable = st2.rows.toSet == st.rows.toSet
            val noReuse = st2.highWaterMark == 2L * n - 1L &&
              !new String(z.commit, "UTF-8")
                .contains("\"dataChange\": true")
            val cloneStable = st3.rows.toSet == st.rows.toSet &&
              st3.highWaterMark == st.highWaterMark
            // classic writer refused; rt-aware writer passes;
            // a featureless table passes any writer
            val gateOk =
              W.writerGate(files, Set.empty).isEmpty &&
              W.writerGate(files,
                Set("rowTracking", "domainMetadata")).isDefined &&
              W.writerGate(W.writeTable(s"plain-$t", ids),
                Set.empty).isDefined
            // fail closed: a classic table serves no lineage; an
            // add with no ids at all refuses; a too-low mark trips
            val classicNone = W.replayRowTracking(
              W.writeTable(s"plain2-$t", ids)).isEmpty
            val orphanData = graft.sources.ParquetWrite
              .writeInt64(Seq("rec_id", "x", "y", "val"),
                Seq(Array(999999L, 1L, 1L, 1L)))
            val badAdd = files +
              ("_delta_log/00000000000000000002.json" ->
                (W.addAction("part-noid.parquet",
                  orphanData.length.toLong) + "\n")
                  .getBytes("UTF-8")) +
              ("part-noid.parquet" -> orphanData)
            val noIdNone = W.replayRowTracking(badAdd).isEmpty
            val badHwm = files +
              ("_delta_log/00000000000000000002.json" ->
                (W.rowIdHighWaterMarkAction(0L) + "\n")
                  .getBytes("UTF-8"))
            val hwmNone = W.replayRowTracking(badHwm).isEmpty
            val failClosed = classicNone && noIdNone && hwmNone
            (t, st.rows.length.toLong, st.rows.map(_._1).sum,
              st.rows.map(_._2).sum, st.rows.map(_._3).sum,
              st2.highWaterMark,
              if (assignOk) 1L else 0L,
              if (zorderStable) 1L else 0L,
              if (cloneStable) 1L else 0L,
              if (gateOk) 1L else 0L,
              if (noReuse) 1L else 0L,
              if (failClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "rid_sum", "key_sum",
            "val_sum", "hwm_after_zorder", "assign_ok",
            "zorder_stable", "clone_stable", "writer_gate_ok",
            "no_reuse", "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS g,
                 (doc_id * 31) % 1009 AS v
          FROM documents),
        c AS (
          SELECT table_id,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb,
                 count(*) AS n
          FROM r GROUP BY table_id),
        w AS (
          SELECT r.table_id, r.d, r.v,
                 CASE WHEN r.g = 0 THEN 0
                      WHEN r.g = 1 THEN c.na
                      ELSE c.na + c.nb END +
                 row_number() OVER (PARTITION BY r.table_id, r.g
                   ORDER BY r.d) - 1 AS rid
          FROM r JOIN c USING (table_id))
        SELECT w.table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(w.rid) AS BIGINT) AS rid_sum,
               CAST(sum(w.d) AS BIGINT) AS key_sum,
               CAST(sum(w.v) AS BIGINT) AS val_sum,
               CAST(min(2 * c.n - 1) AS BIGINT) AS hwm_after_zorder,
               CAST(1 AS BIGINT) AS assign_ok,
               CAST(1 AS BIGINT) AS zorder_stable,
               CAST(1 AS BIGINT) AS clone_stable,
               CAST(1 AS BIGINT) AS writer_gate_ok,
               CAST(1 AS BIGINT) AS no_reuse,
               CAST(1 AS BIGINT) AS fail_closed
        FROM w JOIN c USING (table_id) GROUP BY w.table_id"""),
      headline = false),

    // q394 — Iceberg PARTITION STATISTICS FILES: the spec's
    // per-snapshot planning aggregate — partition{p2} ‖ spec_id ‖
    // record/file/byte counts — registered in table metadata
    // (snapshot-id + statistics-path + file-size-in-bytes), so a
    // planner prices a partition prune BEFORE touching a single
    // manifest: at 100 TB the manifest walk itself is the cost.
    // On the q362 evolved-spec table extended with an appended
    // spec-1 manifest (snapshot 3): the stats file ≡ the
    // manifest-walk rebuild at BOTH snapshots, each manifest routed
    // through its OWN spec id; incremental maintenance (merge the
    // appended manifest's contribution into the old stats — the
    // q363 union discipline) ≡ rebuild; stats-planned pruning for
    // p2 = 1 keeps exactly the rows the kept parquet files PROVE
    // (unpartitioned spec-0 rows kept conservatively — absent
    // partition values must never cause a wrong skip); a size
    // mismatch on the registered file fails CLOSED. Counts
    // re-derive in DuckDB.
    "q394_iceberg_partition_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          val P = graft.sources.Parquet
          val files = I.writeSpecEvoTableV3(s"ps-$t", ids)
          val res = for {
            w2 <- I.writePartitionStats(files, "v2.metadata.json")
            t2 = files + (w2._1 -> w2._2) +
              ("v2.metadata.json" -> w2._3)
            read2 <- I.readPartitionStats(t2, "v2.metadata.json")
            walk2 <- I.computePartitionStats(files,
              "v2.metadata.json", 2L)
            w3 <- I.writePartitionStats(files, "v3.metadata.json")
            t3 = files + (w3._1 -> w3._2) +
              ("v3.metadata.json" -> w3._3)
            read3 <- I.readPartitionStats(t3, "v3.metadata.json")
            walk3 <- I.computePartitionStats(files,
              "v3.metadata.json", 3L)
            addContrib <- I.manifestPartitionStats(files,
              "m-spec1-add.avro", 1)
            keptProven <- {
              // the files the p2 = 1 prune keeps, record counts
              // PROVEN from their parquet bytes
              val kept = Seq("f-old-0.parquet", "f-old-1.parquet",
                "f-new-1.parquet", "f-add-1.parquet")
              val per = kept.map(p => files.get(p)
                .flatMap(P.columnLongs(_, "rec_id"))
                .map(_.length.toLong))
              if (per.exists(_.isEmpty)) None
              else Some(per.map(_.get).sum)
            }
          } yield {
            val rebuildMatch = read2 == walk2 && read3 == walk3
            val incrMatch =
              I.mergePartitionStats(walk2, addContrib) == walk3
            def keptRecords(st: Seq[I.PartStat]): Long =
              st.filter(p => p.p2.isEmpty || p.p2.contains(1))
                .map(_.records).sum
            val pruneMatch = keptRecords(read3) == keptProven
            val sizeProven = new String(w3._3, "UTF-8")
              .contains(s""""file-size-in-bytes": ${w3._2.length}""")
            val failClosed = I.readPartitionStats(
              t3 + (w3._1 -> w3._2.dropRight(1)),
              "v3.metadata.json").isEmpty &&
              I.readPartitionStats(t3 - w3._1,
                "v3.metadata.json").isEmpty
            val nullPart = read3.filter(_.p2.isEmpty)
              .map(_.records).sum
            val p21 = read3.filter(_.p2.contains(1))
              .map(_.records).sum
            (t, read3.length.toLong,
              read3.map(_.records).sum, nullPart, p21,
              keptRecords(read3),
              if (rebuildMatch) 1L else 0L,
              if (incrMatch) 1L else 0L,
              if (pruneMatch) 1L else 0L,
              if (sizeProven) 1L else 0L,
              if (failClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_parts", "total_records",
            "null_part_records", "p2_1_records", "kept_records",
            "rebuild_match", "incr_match", "prune_match",
            "size_proven", "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 4 AS g, doc_id % 3 AS b
          FROM documents)
        SELECT table_id,
               -- the writer always creates all three p2 buckets
               -- (two are empty within a blob: d%3 aliases the blob
               -- key) plus the unpartitioned spec-0 row
               CAST(4 AS BIGINT) AS n_parts,
               CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END) +
                 sum(CASE WHEN g = 1 OR g = 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS total_records,
               CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_part_records,
               CAST(sum(CASE WHEN (g = 1 OR g = 3) AND b = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS p2_1_records,
               CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END) +
                 sum(CASE WHEN (g = 1 OR g = 3) AND b = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS kept_records,
               CAST(1 AS BIGINT) AS rebuild_match,
               CAST(1 AS BIGINT) AS incr_match,
               CAST(1 AS BIGINT) AS prune_match,
               CAST(1 AS BIGINT) AS size_proven,
               CAST(1 AS BIGINT) AS fail_closed
        FROM r GROUP BY table_id"""),
      headline = false),

    // q395 — zstd STRUCTURED (trained, NAMED) dictionaries: q344/
    // q345 proved raw-content prefix dictionaries; this closes the
    // production form — RFC 8878 §5's dictionary format (magic ‖ id
    // ‖ entropy tables ‖ repeat offsets ‖ content), the shape
    // libzstd --train emits. Per blob: train cover-lite on the
    // (d/6)%3==0 docs, WRAP as a structured dictionary carrying the
    // blob's id, compress every held-out doc NAMING that id in the
    // frame header (dictIdFlag — the refusal q244's census enforced
    // is now lifted exactly when the reader HOLDS the named
    // dictionary). Laws: byte-exact round-trip through
    // walkWithDicts; a frame is UNDECODABLE without the named
    // dictionary, under a WRONG id, or via the plain walk (fail
    // closed three ways); the structured dictionary still beats
    // dict-less compression (the measured win); a truncated or
    // id-0 dictionary refuses to parse. libzstd cross-pins both
    // directions in ZstdSpec (ZDICT-trained dicts parse + decode;
    // libzstd decodes own structured frames). Raw sizes re-derive
    // in DuckDB.
    "q395_zstd_structured_dict" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"), col("lang"), col("source"))
          .as[(Long, Long, String, String, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val E = graft.sources.ZstdEncode
            val Z = graft.sources.Zstd
            val rows = it.toSeq.sortBy(_._2)
            def envelope(text: String, lang: String,
                         source: String): Array[Byte] =
              (s"{'src': '$source', 'lang': '$lang', " +
                s"'text': '$text'}").getBytes("UTF-8")
            val (trainRows, evalRows) =
              rows.partition(r => (r._2 / 6) % 3 == 0)
            val content = E.trainDict(
              trainRows.map(r => envelope(r._3, r._4, r._5)),
              maxSize = 4096)
            val res = for {
              dictBytes <- Some(E.buildDictionary(content,
                id = 100L + blobId))
              dict <- Z.parseDictionary(dictBytes)
              if dict.id == 100L + blobId
              // a truncated dict refuses; id 0 refuses
              if Z.parseDictionary(dictBytes.take(10)).isEmpty
            } yield {
              var rawSum = 0L; var dictSum = 0L; var plainSum = 0L
              var rt = true
              val wrongId = dict.copy(id = dict.id + 1)
              evalRows.foreach { r =>
                val doc = envelope(r._3, r._4, r._5)
                rawSum += doc.length
                val z = E.compressWithStructuredDict(doc, dict)
                dictSum += z.length
                plainSum += E.compress(doc).length
                if (!Z.walkWithDicts(z, Seq(dict)).exists(fr =>
                  fr.length == 1 && fr.head.checksumState == "ok" &&
                    java.util.Arrays.equals(fr.head.decoded, doc)))
                  rt = false
                // named frame: undecodable without / wrong / plain
                if (Z.walkWithDicts(z, Nil).isDefined) rt = false
                if (Z.walkWithDicts(z, Seq(wrongId)).isDefined)
                  rt = false
                if (Z.walk(z).isDefined) rt = false
              }
              (rt && dictSum < plainSum, trainRows.length.toLong,
                evalRows.length.toLong, rawSum)
            }
            res match {
              case Some((true, nTrain, nEval, rawSum)) =>
                Seq((blobId, nTrain, nEval, rawSum, 1L, 1L, 1L))
              case _ => Nil
            }
          }
          .toDF("blob_id", "n_train", "n_eval", "raw_len_sum",
            "rt_exact", "named_closed", "structured_beats_plain")
      },
      // envelope fixed chars = 35; strings re-derived per row
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 35 + length(source) + length(lang) + length(text)
                   AS rlen
          FROM documents)
        SELECT blob_id,
               CAST(sum(CASE WHEN (d // 6) % 3 = 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_eval,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN rlen ELSE 0
                 END) AS BIGINT) AS raw_len_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS named_closed,
               CAST(1 AS BIGINT) AS structured_beats_plain
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q396 — Iceberg → Delta REVERSE migration, closing q390 into a
    // ROUND-TRIP: metadata-only both ways over the SAME parquet
    // files, and the round-trip law is what PROVES the mapping
    // lossless — Delta → Iceberg → Delta reproduces the exact live
    // (path, size) state, and a second forward migration under the
    // same table id is BYTE-IDENTICAL to the first (same live set →
    // same manifest/list/metadata bytes). A native Iceberg source
    // (the q338 two-snapshot history at its compacted current
    // snapshot) migrates too, with the Delta replay scanning
    // exactly what the Iceberg scan returns. Refusals: a live file
    // vacuumed/expired away (or size-tampered) fails CLOSED; a
    // source carrying DELETE-content entries (position deletes /
    // DVs, the q375 table) is refused explicitly — migrating it
    // would silently resurrect dead rows. Sums re-derive in DuckDB.
    "q396_iceberg_to_delta_migrate" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val I = graft.sources.IcebergWrite
          val P = graft.sources.Parquet
          val delta0 = W.writeTable(s"rt0-$t", ids)
          val dataFiles =
            delta0.filterNot(_._1.startsWith("_delta_log/"))
          val res = for {
            ice1 <- I.migrateFromDelta(delta0, s"ice-$t")
            iceT1 = dataFiles ++ ice1
            scan1 <- I.scanSnapshot(iceT1, "v1.metadata.json", 1L)
            d2log <- I.migrateToDelta(iceT1, "v1.metadata.json",
              s"rt2-$t")
            delta2 = dataFiles ++ d2log
            live2 <- W.replayLiveSized(delta2, 0L)
            live0 <- W.replayLiveSized(delta0, 1L)
            ice3 <- I.migrateFromDelta(delta2, s"ice-$t")
            // native Iceberg source: the compacted history table
            hist = I.writeHistoryTable(s"h-$t", ids)
            histScan <- I.scanSnapshot(hist, "v3.metadata.json",
              2L)
            dhLog <- I.migrateToDelta(hist, "v3.metadata.json",
              s"rth-$t")
            dh = hist.filter(_._1.endsWith(".parquet")) ++ dhLog
            dhLive <- W.replayLiveSized(dh, 0L)
            dhRows <- {
              val per = dhLive.toSeq.sortBy(_._1).map {
                case (p, _) =>
                  for {
                    b <- dh.get(p)
                    rs <- P.columnLongs(b, "rec_id")
                    vs <- P.columnLongs(b, "val")
                    if rs.length == vs.length
                  } yield rs.zip(vs).toSeq
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.flatMap(_.get))
            }
          } yield {
            val roundTripLive = live2 == live0
            val byteIdentity = ice1.keySet == ice3.keySet &&
              ice1.forall { case (k, v) =>
                java.util.Arrays.equals(v, ice3(k)) }
            val histEqual =
              dhRows.sorted == histScan.sorted &&
                dhLive.size == 1 // only the compacted file is live
            // refusals: vacuumed bytes, size tamper, DV source
            val firstLive = live0.keys.toSeq.sorted.head
            val vacuumedRefused = I.migrateToDelta(
              iceT1 - firstLive, "v1.metadata.json", "x").isEmpty
            val tamperedRefused = I.migrateToDelta(
              iceT1 + (firstLive ->
                iceT1(firstLive).dropRight(1)),
              "v1.metadata.json", "x").isEmpty
            val dvSource = I.writeChangelogTable(s"dv-$t", ids,
              d => (d * 17) % 983)
            val dvRefused = I.migrateToDelta(dvSource,
              "v1.metadata.json", "x").isEmpty
            (t, live0.size.toLong, scan1.length.toLong,
              scan1.map(_._1).sum, scan1.map(_._2).sum,
              histScan.length.toLong, histScan.map(_._2).sum,
              if (roundTripLive) 1L else 0L,
              if (byteIdentity) 1L else 0L,
              if (histEqual) 1L else 0L,
              if (vacuumedRefused && tamperedRefused) 1L else 0L,
              if (dvRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_live", "n_rows", "key_sum",
            "val_sum", "hist_rows", "hist_val_sum",
            "round_trip_live", "byte_identity", "hist_equal",
            "source_gate", "dv_refused")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS g,
                 (doc_id * 11) % 1000 AS v,
                 (doc_id * 19) % 977 AS hv
          FROM documents)
        SELECT table_id,
               CAST(2 AS BIGINT) AS n_live,
               CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN g <> 1 THEN d ELSE 0 END)
                 AS BIGINT) AS key_sum,
               CAST(sum(CASE WHEN g <> 1 THEN v ELSE 0 END)
                 AS BIGINT) AS val_sum,
               CAST(count(*) AS BIGINT) AS hist_rows,
               CAST(sum(hv) AS BIGINT) AS hist_val_sum,
               CAST(1 AS BIGINT) AS round_trip_live,
               CAST(1 AS BIGINT) AS byte_identity,
               CAST(1 AS BIGINT) AS hist_equal,
               CAST(1 AS BIGINT) AS source_gate,
               CAST(1 AS BIGINT) AS dv_refused
        FROM r GROUP BY table_id"""),
      headline = false),

    // q397 — Hudi MDT BLOOM_FILTERS partition: q391's RLI answers
    // "where is key k"; this partition answers the planner's dual —
    // "which files can possibly hold k" — from the MDT alone, no
    // footer opened. Per completed instant, a split-block bloom
    // (the parquet SBBF arithmetic, XXH64 over 8-byte LE keys) is
    // built from each new base file's PROVEN rec_ids and logged
    // under "partition/fileName" (type 4); a CLEAN tombstones the
    // reclaimed slices' filters. Laws: NO FALSE NEGATIVES over
    // every live (file, key); NO WRONG SKIPS — whenever a filter
    // says no, the key is provably absent from that file's bytes;
    // bloom-planned point lookup (candidates → verify) ≡ the
    // full-scan answer key-for-key; the inflight slice's filter
    // never enters; clean keeps the partition consistent with
    // append ≡ rebuild byte-exact. Counts re-derive in DuckDB.
    "q397_hudi_bloom_filters" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val P = graft.sources.Parquet
          val files = W.writeTable(ids)
          val t4 = "00000000000004"
          val res = for {
            mdt <- M.syncBloomFilters(files)
            blooms <- M.bloomListing(files ++ mdt)
            plan = M.planFromListing(files)
            perFile <- {
              val per = plan.map { p =>
                files.get(p).flatMap(P.columnLongs(_, "rec_id"))
                  .map(ks => p -> ks.toSet)
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.map(_.get))
            }
            cr <- W.clean(files, t4)
            cleanedData = (files -- cr.deleted) +
              (cr.timelineName -> cr.timeline)
            mdt2 <- M.appendBloomFilters(mdt,
              files + (cr.timelineName -> cr.timeline), t4,
              "clean")
            blooms2 <- M.bloomListing(cleanedData ++ mdt ++ mdt2)
            rebuilt <- M.syncBloomFilters(
              files + (cr.timelineName -> cr.timeline))
          } yield {
            val byFile = perFile.toMap
            val noFalseNeg = perFile.forall { case (p, ks) =>
              blooms.contains(p) &&
                ks.forall(blooms(p).mightContainLong)
            }
            val noWrongSkip = ids.forall { d =>
              perFile.forall { case (p, ks) =>
                blooms(p).mightContainLong(d) || !ks.contains(d)
              }
            }
            val tagExact = ids.forall { d =>
              val cands = plan.filter(p =>
                blooms(p).mightContainLong(d))
              val verified = cands.filter(p => byFile(p).contains(d))
              val truth = plan.filter(p => byFile(p).contains(d))
              verified == truth
            }
            val inflightAbsent =
              !blooms.keys.exists(_.contains("00000000000003"))
            val cleanOk = blooms2.size == blooms.size - 1 &&
              !blooms2.contains("p/fg0_0-0-0_00000000000001.parquet")
            val rebuildOk = java.util.Arrays.equals(
              rebuilt(M.BloomLogPath), mdt2(M.BloomLogPath))
            (t, ids.length.toLong, ids.sum,
              blooms.size.toLong, blooms2.size.toLong,
              if (noFalseNeg) 1L else 0L,
              if (noWrongSkip) 1L else 0L,
              if (tagExact) 1L else 0L,
              if (inflightAbsent) 1L else 0L,
              if (cleanOk) 1L else 0L,
              if (rebuildOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_keys", "key_sum",
            "n_filters", "n_filters_after_clean", "no_false_neg",
            "no_wrong_skip", "tag_exact", "inflight_absent",
            "clean_ok", "rebuild_ok")
      },
      oracle = Some("""
        SELECT doc_id % 6 AS table_id,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(doc_id) AS BIGINT) AS key_sum,
               CAST(3 AS BIGINT) AS n_filters,
               CAST(2 AS BIGINT) AS n_filters_after_clean,
               CAST(1 AS BIGINT) AS no_false_neg,
               CAST(1 AS BIGINT) AS no_wrong_skip,
               CAST(1 AS BIGINT) AS tag_exact,
               CAST(1 AS BIGINT) AS inflight_absent,
               CAST(1 AS BIGINT) AS clean_ok,
               CAST(1 AS BIGINT) AS rebuild_ok
        FROM documents GROUP BY 1"""),
      headline = false),

    // q398 — Hudi CLUSTERING via replacecommit, the lifecycle op
    // completing compaction (q336) / clean (q361) / rollback (q382)
    // / restore (q388): the merged q318 MOR state is re-sorted by
    // record key and rewritten as TWO key-range-disjoint file
    // groups; the replacecommit names both the new write stats and
    // partitionToReplaceFileIds, so the old groups go DARK while
    // their bytes remain on disk (the object-store discipline —
    // deletes are clean's job). Laws: the clustered replay is
    // row-identical to the pre-cluster merge (clustering
    // rearranges, never changes); the replaced groups are invisible
    // despite being on disk; the new groups partition the keyspace
    // (cl0's max key < cl1's min key — the range-prune win); CLEAN
    // reclaims the replaced groups' bases and fully-completed logs
    // while RETAINING the log holding a pending block; a PENDING
    // second clustering is invisible and rolls back cleanly; a
    // replacecommit that names no replacements fails the replay
    // CLOSED. Merged sums re-derive in DuckDB per the q318 rules.
    "q398_hudi_clustering" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val P = graft.sources.Parquet
          val files = W.writeMorTable(ids)
          val t5 = "00000000000005"; val t6 = "00000000000006"
          val t7 = "00000000000007"
          val res = for {
            before <- W.replay(files)
            cf <- W.cluster(files, t5, 2)
            clustered = files ++ cf.newFiles +
              (cf.timelineName -> cf.timeline)
            after <- W.replay(clustered)
            cr <- W.clean(clustered, t6)
            cleaned = (clustered -- cr.deleted) +
              (cr.timelineName -> cr.timeline)
            afterClean <- W.replay(cleaned)
            // a PENDING second clustering: new bases + marker only
            pf <- W.cluster(cleaned, t7, 1)
            pending = cleaned ++ pf.newFiles +
              (s".hoodie/$t7.replacecommit.inflight" ->
                "{}".getBytes("UTF-8"))
            afterPending <- W.replay(pending)
            rb <- W.rollback(pending, t7, "00000000000008")
            rolledBack = (pending -- rb.deleted) ++
              rb.appendedLogs + (rb.timelineName -> rb.timeline)
            afterRb <- W.replay(rolledBack)
          } yield {
            val rowsB = before.flatMap(_.rows).sortBy(_._1)
            val rowsA = after.flatMap(_.rows).sortBy(_._1)
            val replayStable = rowsA == rowsB
            val dark = cf.replacedFileIds == Seq("fg0", "fg1") &&
              after.map(_.fileId).sorted == Seq("cl0", "cl1") &&
              clustered.contains(
                "p/fg0_0-0-0_00000000000001.parquet")
            val ranges = after.sortBy(_.fileId).map(f =>
              (f.rows.map(_._1).min, f.rows.map(_._1).max))
            val disjoint = ranges.length == 2 &&
              ranges(0)._2 < ranges(1)._1
            // clean: old bases + the fully-completed log die; the
            // log holding the pending t4 block is RETAINED
            val cleanOk = cr.deleted.toSet == Set(
              "p/fg0_0-0-0_00000000000001.parquet",
              "p/fg1_0-0-0_00000000000001.parquet",
              "p/.fg0_00000000000001.log.1_0-0-0") &&
              cleaned.contains("p/.fg1_00000000000001.log.1_0-0-0") &&
              afterClean.flatMap(_.rows).sortBy(_._1) == rowsB
            val pendingInvisible =
              afterPending.flatMap(_.rows).sortBy(_._1) == rowsB &&
                afterPending.map(_.fileId).sorted ==
                  Seq("cl0", "cl1")
            val rollbackOk = rb.deleted.contains(
              s"p/cl0_0-0-0_$t7.parquet") &&
              afterRb.flatMap(_.rows).sortBy(_._1) == rowsB
            // a replacecommit naming no replacements fails CLOSED
            val anon = clustered + (cf.timelineName ->
              """{"operation": "CLUSTER"}""".getBytes("UTF-8"))
            val anonClosed = W.replay(anon).isEmpty
            // clustered bytes really carry the rows (proven)
            val proven = cf.newFiles.forall { case (p, b) =>
              P.columnLongs(b, "rec_id").isDefined
            }
            (t, rowsA.length.toLong, rowsA.map(_._1).sum,
              rowsA.map(_._2).sum,
              if (replayStable) 1L else 0L,
              if (dark) 1L else 0L,
              if (disjoint) 1L else 0L,
              if (cleanOk) 1L else 0L,
              if (pendingInvisible) 1L else 0L,
              if (rollbackOk) 1L else 0L,
              if (anonClosed && proven) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "replay_stable", "replaced_dark", "ranges_disjoint",
            "clean_ok", "pending_invisible", "rollback_ok",
            "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 991 AS v
          FROM documents),
        live AS (
          SELECT table_id, d,
                 CASE WHEN fg = 0 AND d % 3 = 0 THEN v + 7 ELSE v END
                   AS val
          FROM r WHERE fg = 1 OR d % 5 <> 0)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(val) AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS replay_stable,
               CAST(1 AS BIGINT) AS replaced_dark,
               CAST(1 AS BIGINT) AS ranges_disjoint,
               CAST(1 AS BIGINT) AS clean_ok,
               CAST(1 AS BIGINT) AS pending_invisible,
               CAST(1 AS BIGINT) AS rollback_ok,
               CAST(1 AS BIGINT) AS fail_closed
        FROM live GROUP BY table_id"""),
      headline = false),

    // q399 — Iceberg v3 DEFAULT VALUES: schema evolution without
    // rewriting a byte of data — the added REQUIRED column `score`
    // carries `initial-default` 7 (what every row written BEFORE
    // the column existed must surface) and `write-default` 9 (what
    // a writer MATERIALIZES into the file when it omits the
    // column), plus an OPTIONAL `tag` with no defaults (reads as
    // null). Three files pin the three eras: A predates the column
    // (two columns on disk — the scan materializes 7), B carries
    // real scores, C was written by an omitting writer (9 IS in the
    // bytes — defaults are written for new files, never left to
    // reader guesswork). Laws: the scan surfaces exactly those
    // values; stripping initial-default from the metadata makes the
    // required column unservable for A and the scan fails CLOSED
    // (zero-filling an evolved table is how it goes silently
    // wrong); the optional defaultless column is null everywhere.
    // Sums re-derive in DuckDB by generation.
    "q399_iceberg_default_values" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          val P = graft.sources.Parquet
          def vf(d: Long): Long = (d * 23) % 1013
          val files = I.writeDefaultsTable(s"dv-$t", ids, vf)
          val meta = "v1.metadata.json"
          val res = for {
            rows <- I.scanWithDefaults(files, meta, 3L)
            fields <- I.parseSchema(files, meta)
          } yield {
            def gen(d: Long) = (d / 6) % 3
            val expect = ids.map { d =>
              val score = gen(d) match {
                case 0 => 7L
                case 1 => (d * 3) % 50
                case _ => 9L
              }
              (d, vf(d), score, Option.empty[Long])
            }
            val scanOk = rows == expect
            // the write-default is IN file C's bytes, not invented
            val writeDefaultOk = P.columnLongs(
              files("data/c.parquet"), "score")
              .exists(_.forall(_ == 9L))
            // schema parse carries both defaults
            val schemaOk = fields.exists(f =>
              f.name == "score" && f.required &&
                f.initialDefault.contains(7L) &&
                f.writeDefault.contains(9L)) &&
              fields.exists(f => f.name == "tag" && !f.required &&
                f.initialDefault.isEmpty)
            // strip initial-default: required column unservable
            // for the pre-evolution file -> CLOSED
            val stripped = new String(files(meta), "UTF-8")
              .replace("\"initial-default\": 7, ", "")
            val failClosed = I.scanWithDefaults(
              files + (meta -> stripped.getBytes("UTF-8")),
              meta, 3L).isEmpty
            val nDefault = rows.count(_._3 == 7L)
            val nTagNull = rows.count(_._4.isEmpty)
            (t, rows.length.toLong, rows.map(_._2).sum,
              rows.map(_._3).sum,
              ids.count(gen(_) == 0).toLong, nTagNull.toLong,
              if (scanOk) 1L else 0L,
              if (writeDefaultOk && schemaOk) 1L else 0L,
              if (failClosed) 1L else 0L,
              if (nDefault >= ids.count(gen(_) == 0)) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "val_sum", "score_sum",
            "n_pre_evolution", "n_tag_nulls", "scan_ok",
            "write_default_ok", "fail_closed", "default_cover")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS g,
                 (doc_id * 23) % 1013 AS v,
                 CASE WHEN (doc_id // 6) % 3 = 0 THEN 7
                      WHEN (doc_id // 6) % 3 = 1
                        THEN (doc_id * 3) % 50
                      ELSE 9 END AS score
          FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(sum(score) AS BIGINT) AS score_sum,
               CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pre_evolution,
               CAST(count(*) AS BIGINT) AS n_tag_nulls,
               CAST(1 AS BIGINT) AS scan_ok,
               CAST(1 AS BIGINT) AS write_default_ok,
               CAST(1 AS BIGINT) AS fail_closed,
               CAST(1 AS BIGINT) AS default_cover
        FROM r GROUP BY table_id"""),
      headline = false),

    // q400 — the MDT CAPSTONE: a point lookup planned END-TO-END
    // from the metadata table's four partitions, no storage LIST and
    // no footer opened — files (q368) gives the live plan,
    // column_stats (q374) prices the range prune, bloom_filters
    // (q397) shrinks to possible holders, record_index (q391)
    // answers exactly. The lattice law holds per probe: RLI's
    // location ∈ bloom candidates ⊆ stats survivors ⊆ the plan, and
    // every stage is SOUND (the true file is never skipped). The
    // final answer equals the full-scan tag key-for-key, and the
    // stats-survivor count per probe re-derives in DuckDB from the
    // file groups' key ranges. One table, four indexes, one
    // consistent timeline — the upsert-planning story at 100 TB.
    "q400_hudi_mdt_point_lookup" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val P = graft.sources.Parquet
          val files = W.writeTable(ids)
          val res = for {
            mFiles <- M.sync(files)
            mStats <- M.syncColumnStats(files, Seq("rec_id"))
            mBloom <- M.syncBloomFilters(files)
            mRli <- M.syncRecordIndex(files)
            table = files ++ mFiles ++ mStats ++ mBloom ++ mRli
            plan <- M.planFromMdt(table)
            blooms <- M.bloomListing(table)
            idx <- M.recordIndexListing(table)
            // truth: decode the planned files (verification only)
            truth <- {
              val per = plan.map { p =>
                files.get(p).flatMap(P.columnLongs(_, "rec_id"))
                  .map(ks => p -> ks.toSet)
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.map(_.get).toMap)
            }
          } yield {
            val planOk = plan == M.planFromListing(files)
            var statsKeptSum = 0L
            var sound = true
            var lattice = true
            ids.foreach { d =>
              val statsKept =
                M.prunePlan(table, "rec_id", d, d).getOrElse(Nil)
              statsKeptSum += statsKept.length.toLong
              val cands = statsKept.filter(p =>
                blooms(p).mightContainLong(d))
              val trueFiles = plan.filter(p => truth(p).contains(d))
              // soundness: no stage ever skips the true file
              if (!trueFiles.forall(statsKept.contains)) sound = false
              if (!trueFiles.forall(cands.contains)) sound = false
              // the lattice: RLI's answer sits inside every stage
              idx.get(d) match {
                case Some((part, fid)) =>
                  val loc = plan.find(_.startsWith(s"$part/${fid}_"))
                  if (!loc.exists(p => cands.contains(p) &&
                    truth(p).contains(d))) lattice = false
                case None => lattice = false // COW: every key lives
              }
            }
            val rliExact = ids.forall { d =>
              val scanTag = plan.find(p => truth(p).contains(d))
                .map(p => ("p", p.split("/")(1).split("_")(0)))
              idx.get(d) == scanTag
            }
            (t, ids.length.toLong, ids.sum, statsKeptSum,
              if (planOk) 1L else 0L,
              if (sound) 1L else 0L,
              if (lattice) 1L else 0L,
              if (rliExact) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_probes", "key_sum", "stats_kept_sum",
            "plan_ok", "stages_sound", "lattice_ok", "rli_exact")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg
          FROM documents),
        mm AS (
          SELECT table_id, fg, min(d) AS mn, max(d) AS mx
          FROM r GROUP BY table_id, fg),
        kept AS (
          SELECT r.table_id, r.d, count(*) AS c
          FROM r JOIN mm ON r.table_id = mm.table_id
            AND r.d BETWEEN mm.mn AND mm.mx
          GROUP BY r.table_id, r.d)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum(d) AS BIGINT) AS key_sum,
               CAST(sum(c) AS BIGINT) AS stats_kept_sum,
               CAST(1 AS BIGINT) AS plan_ok,
               CAST(1 AS BIGINT) AS stages_sound,
               CAST(1 AS BIGINT) AS lattice_ok,
               CAST(1 AS BIGINT) AS rli_exact
        FROM kept GROUP BY table_id"""),
      headline = false),

    // q401 — row tracking × CHECKPOINTS: lineage must survive the
    // log's own lifecycle. The q393 table checkpoints at v1 — the
    // checkpoint rows carry the feature gate (writerFeatures), every
    // live add's baseRowId/defaultRowCommitVersion, and the
    // domainMetadata high-water mark (without it a post-vacuum
    // reader has no mark and lineage dies with the JSON) — then the
    // ZORDER rewrite lands as the JSON tail ON TOP of the
    // checkpoint. Laws: checkpoint-seeded replay ≡ full-log replay
    // (ids, mark, rows — byte-for-byte the same triples); it STILL
    // holds when every pre-checkpoint JSON commit is vacuumed away
    // (the reason checkpoints exist); the tail replays on top with
    // the same lineage laws; a truncated checkpoint or one written
    // in the CLASSIC shape (no rt columns) fails CLOSED. Sums
    // re-derive in DuckDB with window-function row ids.
    "q401_delta_rt_checkpoint" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val n = ids.length.toLong
          val base = W.writeRowTrackingTable(s"rtc-$t", ids)
          val res = for {
            ck <- W.checkpointRt(base, 1L)
            z <- W.optimizeZOrderRt(base, 2)
            files = base + (z.commitName -> z.commit) ++
              z.newFiles
            withCk = files + (ck._1 -> ck._2) +
              ("_delta_log/_last_checkpoint" ->
                (ck._3 + "\n").getBytes("UTF-8"))
            full <- W.replayRowTracking(files)
            fromCk <- W.replayRowTrackingCkpt(withCk)
            vacuumed = withCk -
              "_delta_log/00000000000000000000.json" -
              "_delta_log/00000000000000000001.json"
            fromVac <- W.replayRowTrackingCkpt(vacuumed)
          } yield {
            val ckEqualsFull =
              fromCk.rows == full.rows &&
                fromCk.highWaterMark == full.highWaterMark
            val vacuumOk = fromVac.rows == full.rows &&
              fromVac.highWaterMark == full.highWaterMark
            // the classic JSON-from-zero replay DIES post-vacuum;
            // the checkpoint read is what survives
            val classicDies =
              W.replayRowTracking(vacuumed).isEmpty
            val truncated = withCk + (ck._1 ->
              ck._2.dropRight(1))
            val classicShape = withCk + (ck._1 ->
              W.writeCheckpoint(Seq(
                W.CkptAct(minReader = 1L),
                W.CkptAct(metaId = s"rtc-$t"))))
            val failClosed =
              W.replayRowTrackingCkpt(truncated).isEmpty &&
                W.replayRowTrackingCkpt(classicShape).isEmpty
            (t, fromVac.rows.length.toLong,
              fromVac.rows.map(_._1).sum,
              fromVac.rows.map(_._2).sum,
              fromVac.rows.map(_._3).sum,
              fromVac.highWaterMark,
              if (ckEqualsFull) 1L else 0L,
              if (vacuumOk && classicDies) 1L else 0L,
              if (failClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "rid_sum", "key_sum",
            "val_sum", "hwm", "ck_equals_full", "vacuum_ok",
            "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS g,
                 (doc_id * 31) % 1009 AS v
          FROM documents),
        c AS (
          SELECT table_id,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb,
                 count(*) AS n
          FROM r GROUP BY table_id),
        w AS (
          SELECT r.table_id, r.d, r.v,
                 CASE WHEN r.g = 0 THEN 0
                      WHEN r.g = 1 THEN c.na
                      ELSE c.na + c.nb END +
                 row_number() OVER (PARTITION BY r.table_id, r.g
                   ORDER BY r.d) - 1 AS rid
          FROM r JOIN c USING (table_id))
        SELECT w.table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(w.rid) AS BIGINT) AS rid_sum,
               CAST(sum(w.d) AS BIGINT) AS key_sum,
               CAST(sum(w.v) AS BIGINT) AS val_sum,
               CAST(min(2 * c.n - 1) AS BIGINT) AS hwm,
               CAST(1 AS BIGINT) AS ck_equals_full,
               CAST(1 AS BIGINT) AS vacuum_ok,
               CAST(1 AS BIGINT) AS fail_closed
        FROM w JOIN c USING (table_id) GROUP BY w.table_id"""),
      headline = false),

    // q402 — Iceberg BUCKET TRANSFORM partitioning: the spec's
    // bucket[N] — murmur3_x86_32 over the 8-byte LE value, (hash &
    // IntMax) % N — the transform that makes POINT LOOKUPS prunable
    // on high-cardinality keys where identity/range partitioning
    // cannot (every residue-based key aliases something at 100 TB;
    // the hash doesn't). One snapshot, one file per bucket, the
    // manifest carrying each file's bucket value. Laws: the buckets
    // PARTITION the keyspace (every key in exactly the file its
    // transform names — proven from the bytes); the bucket-pruned
    // lookup reads ONE file and equals the exact answer for every
    // present key and comes back empty for absent ones; a transform
    // the pruner cannot prove (truncate[4]) is refused, never
    // guessed. The spec's own murmur3 vectors and guava referee
    // pin the hash in IcebergMaintSpec. Sums re-derive in DuckDB.
    "q402_iceberg_bucket_transform" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          val P = graft.sources.Parquet
          def vf(d: Long): Long = (d * 37) % 1021
          val files = I.writeBucketTable(s"bk-$t", ids, vf, 4)
          val meta = "v1.metadata.json"
          val res = for {
            n <- I.parseBucketSpec(files, meta)
            perBucket <- {
              val per = (0 until 4).map { bkt =>
                files.get(s"data/b-$bkt.parquet")
                  .flatMap(P.columnLongs(_, "rec_id"))
                  .map(ks => bkt -> ks.toSet)
              }
              if (per.exists(_.isEmpty)) None
              else Some(per.map(_.get).toMap)
            }
          } yield {
            val partitionLaw =
              perBucket.values.map(_.size).sum == ids.length &&
                ids.forall(d =>
                  perBucket(I.bucketLong(d, 4)).contains(d)) &&
                perBucket.forall { case (bkt, ks) =>
                  ks.forall(I.bucketLong(_, 4) == bkt) }
            val lookupExact = ids.forall { d =>
              I.bucketLookup(files, meta, d).exists {
                case (p, rows) =>
                  p == s"data/b-${I.bucketLong(d, 4)}.parquet" &&
                    rows == Seq((d, vf(d)))
              }
            }
            val absentEmpty = (1L to 5L).forall { k =>
              val probe = ids.max + k * 6 // same residue class
              I.bucketLookup(files, meta, probe)
                .exists(_._2.isEmpty)
            }
            val alien = new String(files(meta), "UTF-8")
              .replace("bucket[4]", "truncate[4]")
              .getBytes("UTF-8")
            val unknownRefused = I.bucketLookup(
              files + (meta -> alien), meta, ids.head).isEmpty
            (t, ids.length.toLong, ids.sum,
              ids.map(vf).sum, n.toLong,
              if (partitionLaw) 1L else 0L,
              if (lookupExact) 1L else 0L,
              if (absentEmpty) 1L else 0L,
              if (unknownRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "key_sum", "val_sum",
            "n_buckets", "partition_law", "lookup_exact",
            "absent_empty", "unknown_refused")
      },
      oracle = Some("""
        SELECT doc_id % 6 AS table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(doc_id) AS BIGINT) AS key_sum,
               CAST(sum((doc_id * 37) % 1021) AS BIGINT) AS val_sum,
               CAST(4 AS BIGINT) AS n_buckets,
               CAST(1 AS BIGINT) AS partition_law,
               CAST(1 AS BIGINT) AS lookup_exact,
               CAST(1 AS BIGINT) AS absent_empty,
               CAST(1 AS BIGINT) AS unknown_refused
        FROM documents GROUP BY 1"""),
      headline = false),

    // q403 — STREAMING materialized view keyed by ROW LINEAGE: the
    // q378 CDC-fed view folds by CONTENT key; this is what q392's
    // row ids buy a stream — the per-snapshot row-id DIFF is the
    // changelog (no content hashing, no key column needed at all),
    // and the view folds by row_id through the SAME stateful
    // operator (compose, don't fork). Five snapshot boundaries land
    // as separate micro-batches: two appends insert their inherited
    // id blocks, the REPLACE contributes ZERO changes (ids survived
    // compaction — the stream sees nothing, which IS the law), the
    // fourth inserts the fresh block, the DV boundary deletes by
    // row_id. Live checkpoints, drain ×2, replay ≡ no-op. Final
    // view ≡ lineageScan(s5) row-for-row; sums re-derive in DuckDB
    // with window-function row ids.
    "q403_stream_lineage_mv" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.Trigger
        val changes = Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          def vf(d: Long): Long = (d * 29) % 997
          val files = I.writeLineageTable(s"lmv-$t", ids, vf)
          val scans = (1L to 5L).map(sid => sid ->
            I.lineageScan(files, "v1.metadata.json", sid)
              .getOrElse(Seq.empty)).toMap
          (2L to 5L).flatMap { sid =>
            val prev = scans(sid - 1).map(r => r._1 -> r).toMap
            val cur = scans(sid).map(r => r._1 -> r).toMap
            val ins = (cur.keySet -- prev.keySet).toSeq.sorted
              .map { rid =>
                (t, sid, "INSERT", rid, cur(rid)._3) }
            val del = (prev.keySet -- cur.keySet).toSeq.sorted
              .map { rid => (t, sid, "DELETE", rid, 0L) }
            ins ++ del
          } ++ scans(1L).map(r =>
            (t, 1L, "INSERT", r._1, r._3))
        }.toDF("table_id", "to_sid", "change_type", "rec_id",
            "val") // rec_id slot carries the ROW ID
        val dv = new StreamDeliveries("graft_q403_lmv")
        (1L to 5L).foreach { sid =>
          dv.land(changes.filter(col("to_sid") === sid), s"s$sid",
            1100000000000L + sid * 60000L)
        }
        val out = s"${dv.root}/out"; val chk = s"${dv.root}/chk"
        def drain(): Unit = {
          val stream = s.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1").parquet(dv.dropDir)
          val q = graft.streaming.StreamOps
            .changelogApplyStream(stream)
            .toDF()
            .writeStream.outputMode("update")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], batchId: Long) =>
                batch.write.mode("overwrite")
                  .parquet(s"$out/batch=$batchId")
            }
            .option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()
        drain() // replay from the same checkpoint: emits nothing
        val snaps = s.read.parquet(out)
        val latest = snaps.groupBy(col("table_id"), col("rec_id"))
          .agg(max(col("n_changes")).as("n_changes"))
        val view = snaps.join(latest,
          Seq("table_id", "rec_id", "n_changes"))
        view.groupBy(col("table_id"))
          .agg(
            sum(when(col("alive"), 1L).otherwise(0L)).cast("long")
              .as("n_alive"),
            sum(when(col("alive"), col("rec_id")).otherwise(0L))
              .cast("long").as("alive_rid_sum"),
            sum(when(col("alive"), col("value")).otherwise(0L))
              .cast("long").as("alive_val_sum"),
            count(lit(1)).cast("long").as("n_keys_touched"),
            sum(col("n_changes")).cast("long").as("n_changes_total"))
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 CASE WHEN (doc_id // 6) % 4 >= 2 THEN 2
                      ELSE (doc_id // 6) % 4 END AS g,
                 (doc_id * 29) % 997 AS v
          FROM documents),
        c AS (
          SELECT table_id,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb
          FROM r GROUP BY table_id),
        w AS (
          SELECT r.table_id, r.d, r.v, r.g,
                 CASE WHEN r.g = 0 THEN
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                      WHEN r.g = 1 THEN c.na +
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                      ELSE 2 * (c.na + c.nb) +
                        row_number() OVER (PARTITION BY r.table_id,
                          r.g ORDER BY r.d) - 1
                 END AS rid
          FROM r JOIN c USING (table_id))
        SELECT table_id,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN 1
                 ELSE 0 END) AS BIGINT) AS n_alive,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN rid
                 ELSE 0 END) AS BIGINT) AS alive_rid_sum,
               CAST(sum(CASE WHEN g = 2 OR d % 5 <> 0 THEN v
                 ELSE 0 END) AS BIGINT) AS alive_val_sum,
               CAST(count(*) AS BIGINT) AS n_keys_touched,
               CAST(count(*) + sum(CASE WHEN g <= 1 AND d % 5 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changes_total
        FROM w GROUP BY table_id"""),
      headline = false),

    // q404 — the MDT × CLUSTERING composition: q398's replacecommit
    // must flow INTO q368's metadata table or planning goes stale
    // the moment a table is clustered. The replacecommit lands in
    // the files partition as its write stats' ADDS plus TOMBSTONES
    // for every tracked file of the replaced groups (bases and logs
    // alike), and in the record index as location UPSERTS — every
    // surviving key MOVES to its clustered group. Laws: post-cluster
    // MDT plan ≡ listing plan ≡ exactly the clustered groups, with
    // the replaced files dark in both; the RLI answers the
    // full-scan tag with the NEW locations (every live key points at
    // a cl group); the rebuilt logs are byte-PREFIXED by the
    // pre-cluster logs (append ≡ rebuild through the replace); CLEAN
    // reclaims the replaced bytes and the plans stay equal. Merged
    // sums re-derive in DuckDB per the q318 rules.
    "q404_hudi_mdt_clustering_sync" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val files = W.writeMorTable(ids)
          val t5 = "00000000000005"; val t6 = "00000000000006"
          val res = for {
            mdt <- M.sync(files)
            rli <- M.syncRecordIndex(files)
            cf <- W.cluster(files, t5, 2)
            clustered = files ++ cf.newFiles +
              (cf.timelineName -> cf.timeline)
            mdt2 <- M.sync(clustered)
            rli2 <- M.syncRecordIndex(clustered)
            planM <- M.planFromMdt(clustered ++ mdt2)
            idx <- M.recordIndexListing(clustered ++ rli2)
            scan <- W.replay(clustered)
            cr <- W.clean(clustered, t6)
            cleaned = (clustered -- cr.deleted) +
              (cr.timelineName -> cr.timeline)
            mdt3 <- M.appendClean(mdt2, t6, cr.deleted)
            planM3 <- M.planFromMdt(cleaned ++ mdt2 ++ mdt3)
          } yield {
            val clNames = Seq(s"p/cl0_0-0-0_$t5.parquet",
              s"p/cl1_0-0-0_$t5.parquet")
            val planMatch = planM ==
              M.planFromListing(clustered) && planM == clNames
            val replacedDark = planM.forall(!_.contains("fg"))
            val fullScan = scan.flatMap(f =>
              f.rows.map(r => r._1 -> ("p", f.fileId))).toMap
            val rliMatch = idx == fullScan &&
              idx.values.forall(_._2.startsWith("cl"))
            def prefix(a: Array[Byte], b: Array[Byte]) =
              b.length > a.length &&
                java.util.Arrays.equals(b.take(a.length), a)
            val prefixOk =
              prefix(mdt(M.LogPath), mdt2(M.LogPath)) &&
                prefix(rli(M.RecordIndexLogPath),
                  rli2(M.RecordIndexLogPath))
            val cleanOk = planM3 == planM &&
              planM3 == M.planFromListing(cleaned)
            val rows = scan.flatMap(_.rows).sortBy(_._1)
            (t, rows.length.toLong, rows.map(_._1).sum,
              rows.map(_._2).sum,
              if (planMatch) 1L else 0L,
              if (replacedDark) 1L else 0L,
              if (rliMatch) 1L else 0L,
              if (prefixOk) 1L else 0L,
              if (cleanOk) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "id_sum", "val_sum",
            "plan_match", "replaced_dark", "rli_moved",
            "append_prefix_ok", "clean_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 991 AS v
          FROM documents),
        live AS (
          SELECT table_id, d,
                 CASE WHEN fg = 0 AND d % 3 = 0 THEN v + 7 ELSE v END
                   AS val
          FROM r WHERE fg = 1 OR d % 5 <> 0)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(val) AS BIGINT) AS val_sum,
               CAST(1 AS BIGINT) AS plan_match,
               CAST(1 AS BIGINT) AS replaced_dark,
               CAST(1 AS BIGINT) AS rli_moved,
               CAST(1 AS BIGINT) AS append_prefix_ok,
               CAST(1 AS BIGINT) AS clean_ok
        FROM live GROUP BY table_id"""),
      headline = false),

    // q405 — Iceberg TRUNCATE TRANSFORM: bucket[N] (q402) serves
    // point lookups; truncate[W] is its RANGE twin — v - (v mod W)
    // with floored mod, ORDER-PRESERVING, so a range predicate keeps
    // exactly the buckets its truncated endpoints span and the prune
    // is sound by construction. One file per occupied bucket. Laws:
    // the pruned range scan equals the brute filter row-for-row
    // (kept-file count AND kept rows both re-derived in DuckDB from
    // the truncation arithmetic); a point range (lo = hi) touches
    // at most one file; pruned files provably hold no in-range row;
    // a transform the pruner cannot prove is refused. Floored-mod
    // vectors pinned in IcebergMaintSpec.
    "q405_iceberg_truncate_transform" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          def vf(d: Long): Long = (d * 41) % 1031
          val W = 96
          val files = I.writeTruncTable(s"tr-$t", ids, vf, W)
          val meta = "v1.metadata.json"
          val lo = ids.min; val hi = ids.min + 191L
          val res = for {
            w <- I.parseTruncSpec(files, meta)
            if w == W
            (keptParts, rows) <- I.truncRangeScan(files, meta,
              lo, hi)
            (onePart, pointRows) <- I.truncRangeScan(files, meta,
              ids.min, ids.min)
          } yield {
            val brute = ids.filter(d => d >= lo && d <= hi)
              .map(d => (d, vf(d)))
            val rangeExact = rows == brute
            val pointOk = onePart <= 1 &&
              pointRows == Seq((ids.min, vf(ids.min)))
            val alien = new String(files(meta), "UTF-8")
              .replace(s"truncate[$W]", s"bucket[$W]")
              .getBytes("UTF-8")
            val unknownRefused = I.truncRangeScan(
              files + (meta -> alien), meta, lo, hi).isEmpty
            val nParts =
              ids.map(I.truncateLong(_, W)).distinct.length
            (t, ids.length.toLong, nParts.toLong,
              keptParts.toLong, rows.length.toLong,
              rows.map(_._2).sum,
              if (rangeExact) 1L else 0L,
              if (pointOk) 1L else 0L,
              if (unknownRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "n_parts", "kept_parts",
            "range_rows", "range_val_sum", "range_exact",
            "point_ok", "unknown_refused")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id * 41) % 1031 AS v
          FROM documents),
        m AS (SELECT table_id, min(d) AS lo FROM r
              GROUP BY table_id),
        j AS (SELECT r.table_id, r.d, r.v, m.lo, m.lo + 191 AS hi
              FROM r JOIN m USING (table_id))
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT d - d % 96) AS BIGINT)
                 AS n_parts,
               CAST(count(DISTINCT CASE WHEN (d - d % 96)
                 BETWEEN (lo - lo % 96)
                 AND ((lo + 191) - (lo + 191) % 96)
                 THEN d - d % 96 END) AS BIGINT) AS kept_parts,
               CAST(sum(CASE WHEN d BETWEEN lo AND hi THEN 1
                 ELSE 0 END) AS BIGINT) AS range_rows,
               CAST(sum(CASE WHEN d BETWEEN lo AND hi THEN v
                 ELSE 0 END) AS BIGINT) AS range_val_sum,
               CAST(1 AS BIGINT) AS range_exact,
               CAST(1 AS BIGINT) AS point_ok,
               CAST(1 AS BIGINT) AS unknown_refused
        FROM j GROUP BY table_id"""),
      headline = false),

    // q406 — SEEKABLE × DICTIONARY: the shard-serving posture a
    // small-document corpus wants BOTH halves of at once — random
    // access (q347's seekable table: seek straight to document k)
    // and the trained-dictionary win (q395: the shared template
    // lives once, in the dictionary). Every frame NAMES the blob's
    // dictionary, so the seek TABLE still parses dictionary-free
    // (placement metadata is not secret) while frame CONTENT is
    // unreachable without it. Laws: every held-out doc random-
    // accesses byte-exact under the named dictionary; every frame
    // refuses without it, under a wrong id, and through the
    // dictionary-less reader; the dictionary still beats dict-less
    // seekable framing (the win survives the format composition);
    // a truncated table fails closed. Raw sizes re-derive in
    // DuckDB.
    "q406_zstd_seekable_dict" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"), col("lang"), col("source"))
          .as[(Long, Long, String, String, String)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val E = graft.sources.ZstdEncode
            val Z = graft.sources.Zstd
            val K = graft.sources.ZstdSeekable
            val rows = it.toSeq.sortBy(_._2)
            def envelope(text: String, lang: String,
                         source: String): Array[Byte] =
              (s"{'src': '$source', 'lang': '$lang', " +
                s"'text': '$text'}").getBytes("UTF-8")
            val (trainRows, evalRows) =
              rows.partition(r => (r._2 / 6) % 3 == 0)
            val content = E.trainDict(
              trainRows.map(r => envelope(r._3, r._4, r._5)),
              maxSize = 4096)
            val res = for {
              dict <- Z.parseDictionary(
                E.buildDictionary(content, id = 200L + blobId))
              docs = evalRows.map(r => envelope(r._3, r._4, r._5))
              seekable = K.writeWithDict(docs, dict)
              plain = K.write(docs)
              entries <- K.parse(seekable) // table parses DICT-FREE
              if entries.length == docs.length
            } yield {
              val wrongId = dict.copy(id = dict.id + 1)
              var rt = true
              entries.zip(docs).foreach { case (e, doc) =>
                if (!K.frameWithDicts(seekable, e, Seq(dict))
                  .exists(java.util.Arrays.equals(_, doc))) rt = false
                if (K.frame(seekable, e).isDefined) rt = false
                if (K.frameWithDicts(seekable, e, Nil).isDefined)
                  rt = false
                if (K.frameWithDicts(seekable, e, Seq(wrongId))
                  .isDefined) rt = false
              }
              val win = seekable.length < plain.length
              val truncClosed =
                K.parse(seekable.dropRight(1)).isEmpty
              (rt && win && truncClosed,
                trainRows.length.toLong, evalRows.length.toLong,
                docs.map(_.length.toLong).sum)
            }
            res match {
              case Some((true, nTrain, nEval, rawSum)) =>
                Seq((blobId, nTrain, nEval, rawSum, 1L, 1L, 1L))
              case _ => Nil
            }
          }
          .toDF("blob_id", "n_train", "n_eval", "raw_len_sum",
            "rt_exact", "named_closed", "dict_wins")
      },
      // envelope fixed chars = 35; strings re-derived per row
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d,
                 35 + length(source) + length(lang) + length(text)
                   AS rlen
          FROM documents)
        SELECT blob_id,
               CAST(sum(CASE WHEN (d // 6) % 3 = 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN 1 ELSE 0
                 END) AS BIGINT) AS n_eval,
               CAST(sum(CASE WHEN (d // 6) % 3 <> 0 THEN rlen ELSE 0
                 END) AS BIGINT) AS raw_len_sum,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS named_closed,
               CAST(1 AS BIGINT) AS dict_wins
        FROM r GROUP BY blob_id"""),
      headline = false),

    // q407 — row tracking × DELETION VECTORS, the Delta twin of
    // q392's DV-stability law: a DV kills by POSITION and ids assign
    // BEFORE the filter, so every surviving row keeps its exact
    // (row_id, rec, val) triple and the high-water mark does not
    // move (a DV claims no ids). The row-id DIFF against the
    // pre-DV table is exactly the killed positions — CDC without
    // content hashing, again. And the operations that cannot YET
    // honor a DV refuse rather than resurrect: the rt checkpoint
    // (no DV struct in its shape), the shallow clone (re-declaring
    // the add without its DV would revive dead rows), and the
    // ZORDER rewrite (materialize first); a cardinality-lying
    // descriptor fails the replay closed. Sums re-derive in DuckDB
    // with window-function row ids.
    "q407_delta_rt_deletion_vectors" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val n = ids.length.toLong
          val base = W.writeRowTrackingTable(s"rtd-$t", ids)
          val files = W.writeRtDvTable(s"rtd-$t", ids)
          val res = for {
            st0 <- W.replayRowTracking(base)
            st <- W.replayRowTracking(files)
          } yield {
            val a = ids.filter(d => (d / 6) % 3 == 0).sorted
            val killedRids = a.zipWithIndex.collect {
              case (d, i) if d % 5 == 0 => i.toLong }.toSet
            val survivors = st0.rows.filterNot(r =>
              killedRids(r._1))
            val dvStable = st.rows == survivors &&
              st.highWaterMark == st0.highWaterMark
            val diffOk = st0.rows.map(_._1).toSet --
              st.rows.map(_._1).toSet == killedRids
            val refusals =
              W.checkpointRt(files, 2L).isEmpty &&
                W.shallowCloneRt(files, "x").isEmpty &&
                W.optimizeZOrderRt(files, 2).isEmpty
            // a descriptor lying about its cardinality closes
            val lied = new String(files(
              "_delta_log/00000000000000000002.json"), "UTF-8")
              .replaceFirst("\"cardinality\": (\\d+)",
                "\"cardinality\": 999999")
            val cardClosed = W.replayRowTracking(files +
              ("_delta_log/00000000000000000002.json" ->
                lied.getBytes("UTF-8"))).isEmpty
            (t, st.rows.length.toLong, st.rows.map(_._1).sum,
              st.rows.map(_._2).sum, st.rows.map(_._3).sum,
              st.highWaterMark, killedRids.size.toLong,
              if (dvStable) 1L else 0L,
              if (diffOk) 1L else 0L,
              if (refusals) 1L else 0L,
              if (cardClosed) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_alive", "rid_sum", "key_sum",
            "val_sum", "hwm", "n_killed", "dv_stable", "diff_ok",
            "refusals_ok", "card_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 3 AS g,
                 (doc_id * 31) % 1009 AS v
          FROM documents),
        c AS (
          SELECT table_id,
                 sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb,
                 count(*) AS n
          FROM r GROUP BY table_id),
        w AS (
          SELECT r.table_id, r.d, r.v, r.g,
                 CASE WHEN r.g = 0 THEN 0
                      WHEN r.g = 1 THEN c.na
                      ELSE c.na + c.nb END +
                 row_number() OVER (PARTITION BY r.table_id, r.g
                   ORDER BY r.d) - 1 AS rid
          FROM r JOIN c USING (table_id)),
        live AS (
          SELECT * FROM w WHERE NOT (g = 0 AND d % 5 = 0))
        SELECT l.table_id,
               CAST(count(*) AS BIGINT) AS n_alive,
               CAST(sum(l.rid) AS BIGINT) AS rid_sum,
               CAST(sum(l.d) AS BIGINT) AS key_sum,
               CAST(sum(l.v) AS BIGINT) AS val_sum,
               CAST(min(c.n - 1) AS BIGINT) AS hwm,
               CAST(min(c.na) - sum(CASE WHEN l.g = 0 THEN 1
                 ELSE 0 END) AS BIGINT) AS n_killed,
               CAST(1 AS BIGINT) AS dv_stable,
               CAST(1 AS BIGINT) AS diff_ok,
               CAST(1 AS BIGINT) AS refusals_ok,
               CAST(1 AS BIGINT) AS card_closed
        FROM live l JOIN c ON l.table_id = c.table_id
        GROUP BY l.table_id"""),
      headline = false),

    // q408 — BYTE-LEVEL pretokenization (the GPT-2 lineage's
    // bytes_to_unicode), closing the byte-level side of the
    // tokenizer stack next to token BPE (q145), unigram LM (q357),
    // and WordPiece (q376): every byte maps through a fixed
    // 256-entry bijection to a printable code point, so the
    // alphabet is exactly 256 symbols, NOTHING is ever [UNK], and
    // arbitrary bytes round-trip — including a synthetic probe
    // carrying ALL 256 byte values and deliberately INVALID UTF-8
    // sequences. Laws, per real document: mapped string decodes to
    // the exact original bytes; pretokens CONCATENATE back to the
    // mapped string (lossless segmentation, whatever the splits);
    // every pretoken decodes (closure under the bijection); a
    // string outside the table's image fails decode CLOSED; byte
    // 0x20 maps to 'Ġ' (U+0120), the published table's landmark.
    // Byte lengths re-derive in DuckDB (strlen = UTF-8 bytes).
    "q408_byte_level_pretokenize" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("text"))
          .as[(Long, Long, String)]
          .mapPartitions { it =>
            val B = graft.operators.ByteLevel
            it.map { case (blob, d, text) =>
              val bytes = text.getBytes("UTF-8")
              val mapped = B.encodeBytes(bytes)
              val rt = B.decodeToBytes(mapped)
                .exists(java.util.Arrays.equals(_, bytes))
              val toks = B.pretokenize(mapped)
              val lossless = toks.mkString == mapped &&
                toks.forall(t =>
                  t.nonEmpty && B.decodeToBytes(t).isDefined)
              // a char outside the image fails closed (U+0000
              // is remapped away, so it is never in the image)
              val closed =
                B.decodeToBytes(mapped + "\u0000").isEmpty
              (blob, d, bytes.length.toLong, mapped.length.toLong,
                if (rt && lossless && closed) 1L else 0L)
            }
          }
          .toDF("blob_id", "doc_id", "n_bytes", "n_mapped", "ok")
          .groupBy(col("blob_id"))
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_bytes")).cast("long").as("byte_len_sum"),
            sum(col("n_mapped")).cast("long").as("mapped_len_sum"),
            min(col("ok")).cast("long").as("laws_ok"),
            // the full-alphabet + invalid-UTF-8 probe, once per blob
            lit({
              val B = graft.operators.ByteLevel
              val all = Array.tabulate[Byte](256)(_.toByte) ++
                Array[Byte](-1, -2, -57, 0) // invalid UTF-8 tails
              val m = B.encodeBytes(all)
              val ok = B.decodeToBytes(m)
                .exists(java.util.Arrays.equals(_, all)) &&
                m.distinct.length >= 256 &&
                B.byteToChar(0x20) == 'Ġ' &&
                B.pretokenize(m).mkString == m
              if (ok) 1L else 0L
            }).as("alphabet_ok"))
      },
      oracle = Some("""
        SELECT doc_id % 6 AS blob_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(strlen(text)) AS BIGINT) AS byte_len_sum,
               CAST(sum(strlen(text)) AS BIGINT) AS mapped_len_sum,
               CAST(1 AS BIGINT) AS laws_ok,
               CAST(1 AS BIGINT) AS alphabet_ok
        FROM documents GROUP BY 1"""),
      headline = false),

    // q409 — BYTE-LEVEL BPE TRAINING, the GPT-2 recipe end to end:
    // q408's bijection + pretokens feed a distributed BPE whose
    // argmax is the RAW pair count (the Sennrich rule — pinned to
    // be the OTHER argmax from WordPiece's likelihood score), each
    // round one partial aggregation and ONE (pair, count) row to
    // the driver, the winning merge riding the codegen'd fold
    // rewrite as a literal. Encoding applies merges in TRAINING
    // ORDER (the rank rule) and — because the alphabet is all 256
    // bytes — is TOTAL: zero [UNK] on ANY holdout, and every
    // encoded pretoken concatenates back to its mapped form and
    // decodes to the exact original bytes. Trained on doc_id%10!=3,
    // evaluated on the holdout; the holdout compresses (pieces <
    // bytes — merges generalize, not memorize). Token counts
    // re-derive in DuckDB with the pretokenizer expressed as a
    // leftmost-first regex.
    "q409_byte_bpe_train" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val BB = graft.operators.ByteBpe
        val d = Engine.table(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            val B = graft.operators.ByteLevel
            it.flatMap { case (id, text) =>
              B.pretokenize(B.encodeBytes(text.getBytes("UTF-8")))
                .map(w => (id, w))
            }
          }
          .toDF("doc_id", "w")
        val trainWords = d.filter(col("doc_id") % 10 =!= 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val holdWords = d.filter(col("doc_id") % 10 === 3)
          .groupBy("w").agg(count(lit(1)).as("c"))
          .as[(String, Long)]
        val nMerges = 12
        val trained = BB.train(trainWords, nMerges)
        val bc = s.sparkContext.broadcast(trained.merges)
        val enc = holdWords.map { case (w, c) =>
          val ps = graft.operators.ByteBpe.encode(w, bc.value)
          val ok = ps.mkString == w && graft.operators.ByteLevel
            .decodeToBytes(ps.mkString).isDefined
          (c, c * w.length.toLong, c * ps.length.toLong,
            if (ok) 0L else 1L)
        }.toDF("n", "bytes", "pieces", "bad")
          .agg(sum("n").as("n"), sum("bytes").as("bytes"),
            sum("pieces").as("pieces"), sum("bad").as("bad"))
          .as[(Long, Long, Long, Long)]
          .head() // bounded: one row
        val nTrain = trainWords.map(_._2).reduce(_ + _)
        val nDistinct = trainWords.count()
        val (nHold, hoBytes, hoPieces, bad) = enc
        val rows = trained.merges.map { m =>
          (m.round.toLong,
            if (bad == 0L) 1L else 0L,
            if (hoPieces < hoBytes) 1L else 0L,
            nTrain, nDistinct, nHold, hoBytes)
        }
        s.createDataset(rows)
          .toDF("round", "recon_ok", "compresses",
            "n_train_tokens", "n_distinct_train",
            "n_holdout_tokens", "n_holdout_bytes")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(text,
                   ' [^ ]+|[^ ]+| ')) AS w
          FROM documents),
        tr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_train_tokens,
                 CAST(count(DISTINCT w) AS BIGINT)
                   AS n_distinct_train
          FROM toks WHERE doc_id % 10 <> 3),
        ho AS (
          SELECT CAST(count(*) AS BIGINT) AS n_holdout_tokens,
                 CAST(COALESCE(sum(strlen(w)), 0) AS BIGINT)
                   AS n_holdout_bytes
          FROM toks WHERE doc_id % 10 = 3)
        SELECT CAST(r.round AS BIGINT) AS round,
               CAST(1 AS BIGINT) AS recon_ok,
               CAST(1 AS BIGINT) AS compresses,
               tr.n_train_tokens, tr.n_distinct_train,
               ho.n_holdout_tokens, ho.n_holdout_bytes
        FROM (SELECT unnest(generate_series(1, 12)) AS round) r
        CROSS JOIN tr CROSS JOIN ho"""),
      headline = false),

    // q410 — Iceberg TEMPORAL PARTITION TRANSFORMS: bucket (q402)
    // serves point lookups, truncate (q405) integer ranges — the
    // transforms a real event table partitions by are year/month/
    // day/hour (spec Appendix A): epoch-relative ordinals, floored
    // on negative dates (1969-12-31 is day -1, month -1), ORDER-
    // PRESERVING on the source timestamp, so the q405 prune-sound-
    // by-construction law carries over. Each blob builds a DAY table
    // and a MONTH table over the same synthetic micros timeline
    // (spanning pre-1970); laws: the day-pruned and month-pruned
    // time-range scans BOTH equal the brute filter row-for-row
    // (kept-day file count re-derived in DuckDB from the floor
    // arithmetic, month ordinals via calendar arithmetic); a point
    // DAY touches exactly one file; pre-1970 rows exist and route
    // to negative ordinals; a transform the pruner cannot prove
    // ("weekday") is refused. Spec vectors (incl. the published
    // 2017-12-01 quadruple) pinned in IcebergMaintSpec.
    "q410_iceberg_temporal_transform" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val I = graft.sources.IcebergWrite
          def tsOf(d: Long): Long = (d - 250L) * 21600000000L
          def vf(d: Long): Long = (d * 37) % 1009
          val rows = ids.map(d => (d, tsOf(d), vf(d)))
          val meta = "v1.metadata.json"
          val lo = tsOf(ids.min)
          val hi = lo + 50L * 86400000000L
          val res = for {
            dayF <- I.writeTemporalTable(s"day-$t", rows, "day")
            monF <- I.writeTemporalTable(s"mon-$t", rows, "month")
            _ <- I.writeTemporalTable(s"x-$t", rows, "weekday")
              .fold(Option(())) (_ => None) // unknown write refused
            dtr <- I.parseTemporalSpec(dayF, meta)
            if dtr == "day"
            (keptD, rowsD) <- I.temporalRangeScan(dayF, meta,
              lo, hi)
            (keptM, rowsM) <- I.temporalRangeScan(monF, meta,
              lo, hi)
            dayStart = I.dayTransform(lo).toLong * 86400000000L
            (onePart, pointRows) <- I.temporalRangeScan(dayF,
              meta, dayStart, dayStart + 86399999999L)
          } yield {
            val brute = rows.filter(r => r._2 >= lo && r._2 <= hi)
              .sortBy(r => (r._2, r._1))
            val rangeExact = rowsD == brute
            val monthExact = rowsM == brute
            val pointBrute = rows.filter(r =>
              I.dayTransform(r._2) == I.dayTransform(lo))
              .sortBy(r => (r._2, r._1))
            val pointOk = onePart == 1 && pointRows == pointBrute
            val alien = new String(dayF(meta), "UTF-8")
              .replace("\"transform\": \"day\"",
                "\"transform\": \"weekday\"").getBytes("UTF-8")
            val unknownRefused = I.temporalRangeScan(
              dayF + (meta -> alien), meta, lo, hi).isEmpty
            val nDays =
              rows.map(r => I.dayTransform(r._2)).distinct.length
            val nMonths =
              rows.map(r => I.monthTransform(r._2)).distinct.length
            val pre = rows.count(_._2 < 0L)
            (t, ids.length.toLong, nDays.toLong, nMonths.toLong,
              keptD.toLong, rowsD.length.toLong,
              rowsD.map(_._3).sum,
              if (rangeExact) 1L else 0L,
              if (monthExact) 1L else 0L,
              if (pointOk) 1L else 0L,
              pre.toLong,
              if (unknownRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "n_days", "n_months",
            "kept_days", "range_rows", "range_val_sum",
            "range_exact", "month_exact", "point_ok",
            "pre1970_rows", "unknown_refused")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id - 250) * 21600000000 AS ts,
                 (doc_id * 37) % 1009 AS v
          FROM documents),
        m AS (SELECT table_id, min(ts) AS lo FROM r
              GROUP BY table_id),
        j AS (SELECT r.*, m.lo, m.lo + 50 * 86400000000 AS hi
              FROM r JOIN m USING (table_id)),
        k AS (SELECT *,
                CAST(floor(ts / 86400000000.0) AS BIGINT)
                  AS day_ord,
                (year(make_timestamp(ts)) - 1970) * 12
                  + month(make_timestamp(ts)) - 1 AS mon_ord,
                CAST(floor(lo / 86400000000.0) AS BIGINT)
                  AS lo_day,
                CAST(floor(hi / 86400000000.0) AS BIGINT)
                  AS hi_day
              FROM j)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT day_ord) AS BIGINT) AS n_days,
               CAST(count(DISTINCT mon_ord) AS BIGINT) AS n_months,
               CAST(count(DISTINCT CASE WHEN day_ord
                 BETWEEN lo_day AND hi_day THEN day_ord END)
                 AS BIGINT) AS kept_days,
               CAST(sum(CASE WHEN ts BETWEEN lo AND hi THEN 1
                 ELSE 0 END) AS BIGINT) AS range_rows,
               CAST(sum(CASE WHEN ts BETWEEN lo AND hi THEN v
                 ELSE 0 END) AS BIGINT) AS range_val_sum,
               CAST(1 AS BIGINT) AS range_exact,
               CAST(1 AS BIGINT) AS month_exact,
               CAST(1 AS BIGINT) AS point_ok,
               CAST(sum(CASE WHEN ts < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS pre1970_rows,
               CAST(1 AS BIGINT) AS unknown_refused
        FROM k GROUP BY table_id"""),
      headline = false),

    // q411 — Hudi SECONDARY INDEX MDT partition: the q400 lattice
    // answers "which files might hold KEY k"; a predicate on a
    // NON-key column still scanned. secondary_index_val closes
    // that: composite `escape(val)$escape(key)` records (type 7,
    // tombstones as isDeleted=true — the composite key needs both
    // parts, so the plain delete block cannot carry them), synced
    // per data instant with the running state naming exactly the
    // mapping each value-change/delete invalidates. A probe is TWO
    // index hops: secondary listing -> record keys, record index
    // (q391) -> file groups — then only those groups' slices are
    // decoded under the full q318 MOR merge rules. Laws: every
    // distinct merged value's lookup equals the full-scan filter
    // row-for-row with exactly the true file groups read (the
    // fids-read total re-derived in DuckDB from the (val, fg)
    // pairs); CLUSTERING contributes ZERO secondary changes (the
    // rebuilt log is byte-identical — locations are the RECORD
    // index's business, q404) yet post-cluster lookups stay exact
    // through the moved RLI; append ≡ rebuild byte-exact on a real
    // update instant; a delete of a never-written key refuses the
    // sync (it cannot name the mapping it kills).
    "q411_hudi_secondary_index" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.HudiWrite
          val M = graft.sources.HudiMdt
          val H = graft.sources.HudiLog
          val files = W.writeMorTable(ids)
          val t5 = "00000000000005"
          val res = for {
            mdt <- M.syncSecondaryIndex(files)
            rli <- M.syncRecordIndex(files)
            table = files ++ mdt ++ rli
            sl <- M.secondaryIndexListing(table)
            idx <- M.recordIndexListing(table)
            scanStates <- W.replay(files)
            cf <- W.cluster(files, t5, 2)
            clustered = files ++ cf.newFiles +
              (cf.timelineName -> cf.timeline)
            rebuilt <- M.syncSecondaryIndex(clustered)
            rli2 <- M.syncRecordIndex(clustered)
            app <- M.appendSecondaryIndex(mdt ++ rli, clustered,
              t5, "replacecommit")
          } yield {
            val scan = scanStates.flatMap(_.rows)
            val inverted = scan.groupBy(_._2)
              .map { case (v, rs) => v -> rs.map(_._1).toSet }
            val listingExact = sl == inverted
            var fidsReadSum = 0L
            var lookupExact = true
            scan.map(_._2).distinct.foreach { target =>
              M.secondaryLookup(table, target) match {
                case Some((fids, rows)) =>
                  fidsReadSum += fids.length.toLong
                  if (rows != scan.filter(_._2 == target)
                    .sortBy(_._1)) lookupExact = false
                  val trueFids = scan.filter(_._2 == target)
                    .map(_._1).flatMap(idx.get).map(_._2)
                    .distinct.sorted
                  if (fids != trueFids) lookupExact = false
                case None => lookupExact = false
              }
            }
            if (M.secondaryLookup(table, 999983L) !=
              Some((Seq.empty[String],
                Seq.empty[(Long, Long)]))) lookupExact = false
            val clusterZero = java.util.Arrays.equals(
              rebuilt(M.SecondaryIndexLogPath),
              mdt(M.SecondaryIndexLogPath)) &&
              java.util.Arrays.equals(
                app(M.SecondaryIndexLogPath),
                mdt(M.SecondaryIndexLogPath))
            val table2 = clustered ++ rebuilt ++ rli2
            val scan2 = W.replay(clustered).get.flatMap(_.rows)
            val postClusterOk = scan2.map(_._2).distinct
              .forall { target =>
                M.secondaryLookup(table2, target).exists {
                  case (fids2, rows2) =>
                    rows2 == scan2.filter(_._2 == target)
                      .sortBy(_._1) &&
                      fids2.forall(_.startsWith("cl"))
                }
              }
            // append == rebuild on a real update instant
            val t6 = "00000000000006"
            // any LIVE fg0 key works — d%3==0 keys were updated
            // at t2, so their tombstone names val+7 (blob residue
            // classes 0 and 3 hold ONLY d%3==0 keys)
            val k6 = ids.find(d => (d / 6) % 2 == 0 &&
              d % 5 != 0).get
            val lname6 = s"p/.fg0_$t6.log.1_0-0-0"
            val log6 = H.writeBlock(H.TypeAvroData,
              Seq(H.HdrInstantTime -> t6,
                H.HdrSchema -> W.LogRecSchema),
              H.dataContent(Seq(W.avroRec(k6, 777L))))
            val files6 = files +
              (s".hoodie/$t6.deltacommit" -> W.commitJson(
                Seq(("fg0", lname6, 1L))).getBytes("UTF-8")) +
              (lname6 -> log6)
            val appendRebuild = (for {
              a6 <- M.appendSecondaryIndex(mdt, files6, t6,
                "deltacommit")
              r6 <- M.syncSecondaryIndex(files6)
              s6 <- M.secondaryIndexListing(files6 ++ a6)
            } yield java.util.Arrays.equals(
              a6(M.SecondaryIndexLogPath),
              r6(M.SecondaryIndexLogPath)) &&
              s6.getOrElse(777L, Set.empty).contains(k6))
              .getOrElse(false)
            // a delete of a never-written key refuses the sync
            val t7 = "00000000000007"
            val lname7 = s"p/.fg0_$t7.log.1_0-0-0"
            val log7 = H.writeBlock(H.TypeDelete,
              Seq(H.HdrInstantTime -> t7),
              H.deleteContent(Seq("999999")))
            val files7 = files +
              (s".hoodie/$t7.deltacommit" -> W.commitJson(
                Seq(("fg0", lname7, 1L))).getBytes("UTF-8")) +
              (lname7 -> log7)
            val unknownRefused =
              M.syncSecondaryIndex(files7).isEmpty
            (t, scan.length.toLong, scan.map(_._2).sum,
              scan.map(_._2).distinct.length.toLong, fidsReadSum,
              if (listingExact && lookupExact) 1L else 0L,
              if (clusterZero) 1L else 0L,
              if (postClusterOk) 1L else 0L,
              if (appendRebuild) 1L else 0L,
              if (unknownRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "val_sum", "n_vals",
            "fids_read_sum", "lookup_exact", "cluster_zero",
            "post_cluster_ok", "append_rebuild", "unknown_refused")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 991 AS v
          FROM documents),
        live AS (
          SELECT table_id, d, fg,
                 CASE WHEN fg = 0 AND d % 3 = 0 THEN v + 7 ELSE v END
                   AS val
          FROM r WHERE fg = 1 OR d % 5 <> 0)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(val) AS BIGINT) AS val_sum,
               CAST(count(DISTINCT val) AS BIGINT) AS n_vals,
               CAST(count(DISTINCT val * 10 + fg) AS BIGINT)
                 AS fids_read_sum,
               CAST(1 AS BIGINT) AS lookup_exact,
               CAST(1 AS BIGINT) AS cluster_zero,
               CAST(1 AS BIGINT) AS post_cluster_ok,
               CAST(1 AS BIGINT) AS append_rebuild,
               CAST(1 AS BIGINT) AS unknown_refused
        FROM live GROUP BY table_id"""),
      headline = false),

    // q412 — Delta LIQUID CLUSTERING: ZORDER (q381) is the legacy
    // story — an operation you must re-invoke with the right
    // columns every time. The current protocol makes clustering a
    // TABLE property: the `clusteredTable` writer feature plus a
    // `delta.clustering` domain carrying the clustering column
    // paths (last domain wins — changing layout policy is a
    // metadata-only commit), with classic writers refused at the
    // gate (they would append stripes and silently degrade the
    // layout — the q393 refusal pattern). OPTIMIZE then reads the
    // columns FROM THE DOMAIN, never from a caller, and runs the
    // rt-materializing rewrite shared with q393's zorder: row ids
    // byte-stable, a fresh id block claimed, dataChange=false
    // throughout. Laws: post-cluster scan ≡ pre-cluster scan
    // row-for-row (sums re-derived in DuckDB); the measured 2-D
    // box-pruning win vs the striped layout (the q381 law); row-id
    // triples and the advanced mark verified across the rewrite;
    // classic writer refused while a clustering-aware one passes;
    // a feature-without-domain table refuses the rewrite (never
    // guess a layout).
    "q412_delta_liquid_clustering" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val W = graft.sources.DeltaWrite
          val P = graft.sources.Parquet
          val files = W.writeClusteredTable(s"lc-$t", ids)
          val (bLo, bHi) = (64L, 95L)
          def decode(table: Map[String, Array[Byte]], p: String) =
            for {
              b <- table.get(p)
              rs <- P.columnLongs(b, "rec_id")
              xs <- P.columnLongs(b, "x")
              ys <- P.columnLongs(b, "y")
              vs <- P.columnLongs(b, "val")
            } yield rs.indices.map(i =>
              (rs(i), xs(i), ys(i), vs(i)))
          def boxScan(table: Map[String, Array[Byte]],
                      live: Seq[String]) = {
            val per = live.map(decode(table, _))
            if (per.exists(_.isEmpty)) None
            else {
              val byFile = live.zip(per.map(_.get))
              val hits = byFile.filter { case (_, rows) =>
                rows.nonEmpty &&
                  rows.map(_._2).min <= bHi &&
                  rows.map(_._2).max >= bLo &&
                  rows.map(_._3).min <= bHi &&
                  rows.map(_._3).max >= bLo
              }
              val hitRows = hits.flatMap(_._2).filter(r =>
                r._2 >= bLo && r._2 <= bHi &&
                  r._3 >= bLo && r._3 <= bHi)
              val allRows = byFile.flatMap(_._2).filter(r =>
                r._2 >= bLo && r._2 <= bHi &&
                  r._3 >= bLo && r._3 <= bHi)
              Some((hits.length, hitRows.sortBy(_._1),
                allRows.sortBy(_._1), byFile.flatMap(_._2)))
            }
          }
          val res = for {
            cols <- W.parseClusteringColumns(files)
            if cols == Seq("x", "y")
            st0 <- W.replayRowTracking(files)
            z <- W.optimizeCluster(files, 3)
            table = files + (z.commitName -> z.commit) ++
              z.newFiles
            st1 <- W.replayRowTracking(table)
            liveB <- W.replayLive(files).map(_._1)
            liveA <- W.replayLive(table).map(_._1)
            linear <- boxScan(files, liveB)
            clus <- boxScan(table, liveA)
          } yield {
            val (hitsL, hitRowsL, allRowsL, fullL) = linear
            val (hitsC, hitRowsC, allRowsC, fullC) = clus
            val prunes = hitsC < hitsL
            val noWrongSkip = hitRowsL == allRowsL &&
              hitRowsC == allRowsC && allRowsL == allRowsC
            val rowsPreserved =
              fullL.sortBy(_._1) == fullC.sortBy(_._1) &&
                z.rows == fullL.length.toLong
            val idsStable = st1.rows.toSet == st0.rows.toSet &&
              st1.highWaterMark == st0.highWaterMark +
                st0.rows.length.toLong
            val dcOk = !new String(z.commit, "UTF-8")
              .contains("\"dataChange\": true")
            val gateOk = W.writerGate(files,
              Set("rowTracking", "domainMetadata")).isEmpty &&
              W.writerGate(files, Set("rowTracking",
                "domainMetadata", "clusteredTable")).isDefined
            val domainless = files +
              ("_delta_log/00000000000000000000.json" ->
                new String(files(
                  "_delta_log/00000000000000000000.json"),
                  "UTF-8").split("\n")
                  .filterNot(_.contains("delta.clustering"))
                  .mkString("", "\n", "\n").getBytes("UTF-8"))
            val domainRefused =
              W.optimizeCluster(domainless, 3).isEmpty
            (t, fullL.length.toLong, fullL.map(_._4).sum,
              allRowsL.length.toLong, allRowsL.map(_._4).sum,
              st1.highWaterMark,
              if (prunes) 1L else 0L,
              if (noWrongSkip) 1L else 0L,
              if (rowsPreserved && idsStable) 1L else 0L,
              if (dcOk && gateOk && domainRefused) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "n_rows", "val_sum", "n_box_rows",
            "box_val_sum", "hwm", "cluster_prunes",
            "no_wrong_skip", "rows_ids_stable", "protocol_ok")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id * 7) % 256 AS x,
                 (doc_id * 13) % 256 AS y,
                 (doc_id * 31) % 1009 AS v
          FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(v) AS BIGINT) AS val_sum,
               CAST(sum(CASE WHEN x BETWEEN 64 AND 95
                 AND y BETWEEN 64 AND 95 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_box_rows,
               CAST(sum(CASE WHEN x BETWEEN 64 AND 95
                 AND y BETWEEN 64 AND 95 THEN v ELSE 0 END)
                 AS BIGINT) AS box_val_sum,
               CAST(2 * count(*) - 1 AS BIGINT) AS hwm,
               CAST(1 AS BIGINT) AS cluster_prunes,
               CAST(1 AS BIGINT) AS no_wrong_skip,
               CAST(1 AS BIGINT) AS rows_ids_stable,
               CAST(1 AS BIGINT) AS protocol_ok
        FROM r GROUP BY table_id"""),
      headline = false),

    // q413 — LZ4 FRAME format (.lz4, lz4_Frame_format.md): the
    // engine decoded raw LZ4 blocks (parquet codec 7) and Hadoop
    // BE32 framing (codec 5) but not the STANDALONE container wild
    // corpora and WARC sidecars actually ship — magic 0x184D2204,
    // flag byte (version/indep/checksums/content-size), block-max
    // descriptor, XXH32 header checksum, LE32-size blocks (high bit
    // = stored uncompressed), EndMark, content checksum — all
    // checksums the engine's OWN XXH32 (pinned against lz4-java in
    // Lz4Spec; CLI frames incl. 64 KB LINKED blocks whose matches
    // reach across block boundaries cross-pin both directions
    // there). Here the q239/q334 composition discipline: tar with
    // the own writer, frame with the own LZ4F writer (block
    // checksums on), and the decode law is BYTE EQUALITY — own
    // decompress returns the exact tar image, own Tar.parse yields
    // the entries re-derived in DuckDB (sizes, payload hashes,
    // ustar stride arithmetic). Fail-closed in-task: flipped magic
    // / header checksum / content checksum and truncation refuse;
    // a skippable-frame prefix and frame concatenation decode as
    // the CLI does.
    "q413_lz4_frame" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (blobId, ids) =>
          val F = graft.sources.Lz4Frame
          val p1 = ids.map(d => "doc-" + d + "|" + (d % 23) + "\n")
            .mkString
          val p2 = ids.mkString(",")
          val tar = graft.sources.Tar.write(Seq(
            ("docs.txt", p1.getBytes("UTF-8"), 1234567L),
            ("ids.csv", p2.getBytes("UTF-8"), 1234567L)))
          val lz = F.write(tar, blockChecksum = true)
          val back = F.decompress(lz)
          val rtExact = back.exists(java.util.Arrays.equals(_, tar))
          val sizeLaw = lz.length < tar.length
          def flip(b: Array[Byte], i: Int): Array[Byte] = {
            val c = b.clone(); c(i) = (c(i) ^ 0x01).toByte; c
          }
          val failClosed = F.decompress(flip(lz, 0)).isEmpty &&
            F.decompress(flip(lz, 14)).isEmpty && // HC
            F.decompress(flip(lz, lz.length - 1)).isEmpty &&
            F.decompress(lz.dropRight(1)).isEmpty
          val skip = Array[Byte](0x50, 0x2a.toByte, 0x4d, 0x18,
            2, 0, 0, 0, 7, 7)
          val wildOk = F.decompress(skip ++ lz).exists(
            java.util.Arrays.equals(_, tar)) &&
            F.decompress(lz ++ lz).exists(
              java.util.Arrays.equals(_, tar ++ tar))
          if (!(rtExact && sizeLaw && failClosed && wildOk)) Nil
          else graft.sources.Tar.parse(blobId, tar).map { e =>
            val payload = new String(tar, e.data_offset.toInt,
              e.size.toInt, "UTF-8")
            (blobId, e.entry_name, e.size, hash60Bytes(payload.getBytes("UTF-8")),
              tar.length.toLong, 1L, 1L, 1L)
          }
        }.toDF("blob_id", "entry_name", "size", "data_hash",
            "tar_len", "lz_smaller", "rt_exact", "wild_ok")
      },
      oracle = Some(s"""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d FROM documents),
        k AS (
          SELECT blob_id,
                 string_agg('doc-' || d || '|' || (d % 23) || chr(10),
                   '' ORDER BY d) AS p1,
                 string_agg(d, ',' ORDER BY d) AS p2
          FROM r GROUP BY blob_id),
        g AS (
          SELECT blob_id, p1, p2,
                 CAST(length(p1) AS BIGINT) AS s1,
                 CAST(length(p2) AS BIGINT) AS s2
          FROM k),
        geo AS (
          SELECT *,
                 512 + ((s1 + 511) // 512) * 512 +
                 512 + ((s2 + 511) // 512) * 512 + 1024 AS tar_len
          FROM g)
        SELECT blob_id, 'docs.txt' AS entry_name, s1 AS size,
               ${OracleSql.sqlHash60("p1")} AS data_hash, tar_len,
               CAST(1 AS BIGINT) AS lz_smaller,
               CAST(1 AS BIGINT) AS rt_exact,
               CAST(1 AS BIGINT) AS wild_ok
        FROM geo
        UNION ALL
        SELECT blob_id, 'ids.csv', s2,
               ${OracleSql.sqlHash60("p2")}, tar_len,
               CAST(1 AS BIGINT), CAST(1 AS BIGINT),
               CAST(1 AS BIGINT)
        FROM geo"""),
      headline = false),

    // q414 — Iceberg v3 VARIANT type, binary form (the public
    // parquet VariantEncoding.md — the semi-structured column type
    // Iceberg v3, Delta, and Spark 4 share): each row is a
    // (metadata, value) blob PAIR — metadata a version-1 sorted key
    // dictionary, value the tagged tree (primitives, short/long
    // strings, decimal4/8/16, objects with field ids SORTED by key,
    // arrays). The engine's own canonical codec (sources/Variant
    // .scala, cross-pinned BOTH directions against Spark's reference
    // implementation in VariantSpec) encodes one UNSHREDDED variant
    // per document, writes the pairs as BINARY leaves through the
    // own parquet writer, reads them back with the own reader
    // (columnBins), and the scan surfaces typed fields WITHOUT
    // decoding siblings — getField binary-searches the sorted field
    // ids (sound by the sort law the decoder enforces); the grouped
    // aggregation over the extracted lang/n/score/tag/neg fields is
    // re-derived relationally in DuckDB. Laws in-task: decode∘encode
    // defined with re-encode BYTE-IDENTICAL (the canonical law),
    // getField ≡ the full decode's field on every key, malformed
    // blobs (version flip, truncated dictionary, truncated value,
    // trailing bytes) refuse with None. Shredding is future work;
    // unshredded pairs are the v3 interchange form.
    "q414_variant_binary" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select((col("doc_id") % 6).as("blob_id"), col("doc_id"),
            col("lang"), col("n_chars"))
          .as[(Long, Long, String, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (blobId, it) =>
            val V = graft.sources.Variant
            val W = graft.sources.ParquetWrite
            val P = graft.sources.Parquet
            val docs = it.map(t => (t._2, t._3, t._4)).toSeq
              .sortBy(_._1)
            def mk(d: Long, lang: String, n: Long): V.V =
              V.VObject(Vector(
                "id" -> V.VLong(d),
                "lang" -> V.VString(lang),
                "n" -> V.VLong(n),
                "score" -> V.VDecimal(BigInt((d * 31) % 1009), 2),
                "tags" -> V.VArray(Vector(V.VLong(d % 23),
                  V.VBool(d % 2 == 0), V.VNull,
                  V.VString("t" + (d % 5)))),
                "meta" -> V.VObject(Vector(
                  "neg" -> V.VLong(-d),
                  "src" -> V.VString("s" + (d % 7))))))
            val pairs = docs.map { case (d, lang, n) =>
              (d, V.encode(mk(d, lang, n))) }
            // canonical law: decode defined, re-encode byte-identical
            val canonOk = pairs.forall { case (_, (m, b)) =>
              V.decode(m, b).exists { back =>
                val (m2, b2) = V.encode(back)
                java.util.Arrays.equals(m, m2) &&
                  java.util.Arrays.equals(b, b2)
              }
            }
            // the unshredded column pair through the own parquet
            // writer, back through the own reader
            val nRows = pairs.length
            val fields = Seq(
              W.Leaf("doc_id", 0, 2),
              W.Leaf("v_meta", 0, 6),
              W.Leaf("v_value", 0, 6))
            val bytes = W.writeFile(fields, Seq(
              W.LeafData(Array.fill(nRows)(0), null,
                longs = pairs.map(_._1).toArray),
              W.LeafData(Array.fill(nRows)(0), null,
                bins = pairs.map(_._2._1).toArray),
              W.LeafData(Array.fill(nRows)(0), null,
                bins = pairs.map(_._2._2).toArray)))
            val res = for {
              ids <- P.columnLongs(bytes, "doc_id")
              metas <- P.columnBins(bytes, "v_meta")
              vals <- P.columnBins(bytes, "v_value")
              if ids.length == nRows && metas.length == nRows &&
                vals.length == nRows
              decoded <- {
                val ds = ids.indices.map(i =>
                  V.decode(metas(i), vals(i)))
                if (ds.exists(_.isEmpty)) None
                else Some(ds.map(_.get))
              }
            } yield (ids, metas, vals, decoded)
            res.toSeq.flatMap { case (ids, metas, vals, decoded) =>
              val rows = ids.indices.map { i =>
                val full = decoded(i).asInstanceOf[V.VObject]
                  .fields.toMap
                def gf(k: String) =
                  V.getField(metas(i), vals(i), k)
                val fieldEq = Seq("id", "lang", "n", "score",
                  "tags", "meta").forall(k => gf(k) == full.get(k))
                val lang = gf("lang") match {
                  case Some(V.VString(l)) => l; case _ => "?" }
                val n = gf("n") match {
                  case Some(V.VLong(x)) => x; case _ => -1L }
                val score = gf("score") match {
                  case Some(V.VDecimal(u, 2)) => u.toLong
                  case _ => -1L }
                val tag = gf("tags") match {
                  case Some(V.VArray(xs)) => xs.head match {
                    case V.VLong(x) => x; case _ => -1L }
                  case _ => -1L }
                val neg = gf("meta") match {
                  case Some(V.VObject(fs)) => fs.toMap.get("neg") match {
                    case Some(V.VLong(x)) => x; case _ => 1L }
                  case _ => 1L }
                (lang, ids(i), n, score, tag, neg,
                  fieldEq && gf("absent").isEmpty)
              }
              // fail-closed battery on a REAL row's blobs
              val (m0, b0) = (metas(0), vals(0))
              def flip(x: Array[Byte], i: Int) = {
                val c = x.clone(); c(i) = (c(i) ^ 0x02).toByte; c }
              val failOk = V.decode(flip(m0, 0), b0).isEmpty &&
                V.decode(m0.dropRight(1), b0).isEmpty &&
                V.decode(m0, b0.dropRight(1)).isEmpty &&
                V.decode(m0, b0 ++ Array[Byte](0)).isEmpty &&
                V.decode(m0 ++ Array[Byte](0), b0).isEmpty
              val allEq = rows.forall(_._7)
              if (!(canonOk && failOk && allEq)) Nil
              else rows.groupBy(_._1).toSeq.map { case (lang, rs) =>
                (blobId, lang, rs.length.toLong,
                  rs.map(_._2).sum, rs.map(_._3).sum,
                  rs.map(_._4).sum, rs.map(_._5).sum,
                  rs.map(_._6).sum, 1L, 1L)
              }
            }
          }
          .toDF("blob_id", "lang", "n_docs", "id_sum", "n_sum",
            "score_sum", "tag_sum", "neg_sum", "canonical_ok",
            "fail_closed")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS blob_id, doc_id AS d, lang,
                 n_chars AS n
          FROM documents)
        SELECT blob_id, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(d) AS BIGINT) AS id_sum,
               CAST(sum(n) AS BIGINT) AS n_sum,
               CAST(sum((d * 31) % 1009) AS BIGINT) AS score_sum,
               CAST(sum(d % 23) AS BIGINT) AS tag_sum,
               CAST(sum(-d) AS BIGINT) AS neg_sum,
               CAST(1 AS BIGINT) AS canonical_ok,
               CAST(1 AS BIGINT) AS fail_closed
        FROM r GROUP BY blob_id, lang"""),
      headline = false),

    // q415 — Hudi→Iceberg MIGRATION: the migration triangle closes
    // (q390 Delta→Iceberg, q396 Iceberg→Delta, now the third lake
    // format in). Metadata-only — the Iceberg snapshot pins the SAME
    // base parquet bytes; only manifests/list/metadata.json are
    // written (at 100 TB a migration that rewrites data is a
    // non-starter). The gate is HudiWrite.cleanSnapshot: a COW table
    // (q302 fixture, latest completed base per group, inflight
    // poison dark) migrates directly; a MOR table with unmerged
    // completed log blocks (q318 fixture: upserts + deletes past the
    // base) REFUSES — freezing its stale base would publish rows its
    // own readers never see — and migrates only after compaction
    // re-bases the merged state (clean ⇔ base-only reader exact).
    // Laws in-task: Iceberg scan of the migrated table ≡ the Hudi
    // merged replay row-for-row (both fixtures); a second migration
    // is BYTE-IDENTICAL; post-migration Hudi commits do not leak
    // into the frozen Iceberg view; tampered sources refuse
    // (vacuumed latest base → stale fallback caught by the
    // merged-equality gate, truncated timeline, garbage
    // replacecommit). Sums re-derived relationally in DuckDB.
    "q415_hudi_to_iceberg_migrate" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        Blobs.byBlob(s, dir, 6) { (t, ids) =>
          val H = graft.sources.HudiWrite
          val I = graft.sources.IcebergWrite
          val t5 = "00000000000005"
          val cow = H.writeTable(ids)
          val mor = H.writeMorTable(ids)
          val res = for {
            // COW migrates directly
            iceCow <- I.migrateFromHudi(cow, s"ice-cow-$t")
            cowScan <- I.scanSnapshot(cow ++ iceCow,
              "v1.metadata.json", 1L)
            cowReplay <- H.replay(cow).map(_.flatMap(_.rows))
            // raw MOR refuses; compacted MOR migrates
            if I.migrateFromHudi(mor, s"ice-mor-$t").isEmpty
            cDelta <- H.compact(mor, t5)
            compacted = mor ++ cDelta
            iceMor <- I.migrateFromHudi(compacted, s"ice-mor-$t")
            morScan <- I.scanSnapshot(compacted ++ iceMor,
              "v1.metadata.json", 1L)
            morReplay <- H.replay(compacted).map(_.flatMap(_.rows))
            iceMor2 <- I.migrateFromHudi(compacted, s"ice-mor-$t")
          } yield {
            val scanEqual = cowScan.sorted == cowReplay.sorted &&
              morScan.sorted == morReplay.sorted
            val remigrateIdentical =
              iceMor.keySet == iceMor2.keySet &&
                iceMor.keys.forall(k => java.util.Arrays.equals(
                  iceMor(k), iceMor2(k)))
            // tampered sources refuse
            val tamperRefused =
              I.migrateFromHudi(compacted -
                s"p/fg0_0-0-0_$t5.parquet", s"x-$t").isEmpty &&
              I.migrateFromHudi(compacted -
                s".hoodie/$t5.commit", s"x-$t").isEmpty &&
              I.migrateFromHudi(compacted +
                (".hoodie/00000000000007.replacecommit" ->
                  "{not json".getBytes("UTF-8")), s"x-$t").isEmpty
            // the migration is a SNAPSHOT: Hudi evolving after it
            // must not leak into the frozen Iceberg view
            val t6 = "00000000000006"
            val evolved = compacted +
              (s".hoodie/$t6.commit" -> H.commitJson(Seq(
                ("fg0", s"p/fg0_0-0-0_$t6.parquet", 1L)))
                .getBytes("UTF-8")) +
              (s"p/fg0_0-0-0_$t6.parquet" ->
                graft.sources.ParquetWrite.writeInt64(
                  Seq("rec_id", "val"), Seq(Array(999999L, 1L))))
            val isolated = I.scanSnapshot(evolved ++ iceMor,
              "v1.metadata.json", 1L).exists(
              _.sorted == morScan.sorted)
            (t, cowScan.length.toLong, cowScan.map(_._2).sum,
              morScan.length.toLong, morScan.map(_._2).sum,
              if (scanEqual) 1L else 0L,
              if (remigrateIdentical) 1L else 0L,
              if (tamperRefused) 1L else 0L,
              if (isolated) 1L else 0L)
          }
          res.toSeq
        }.toDF("table_id", "cow_rows", "cow_val_sum", "mor_rows",
            "mor_val_sum", "scan_equal", "remigrate_identical",
            "tamper_refused", "snapshot_isolated")
      },
      oracle = Some("""
        WITH r AS (
          SELECT doc_id % 6 AS table_id, doc_id AS d,
                 (doc_id // 6) % 2 AS fg,
                 (doc_id * 13) % 1000 AS vc,
                 (doc_id * 13) % 991 AS vm
          FROM documents)
        SELECT table_id,
               CAST(count(*) AS BIGINT) AS cow_rows,
               CAST(sum(vc + CASE WHEN fg = 0 THEN 5 ELSE 0 END)
                 AS BIGINT) AS cow_val_sum,
               CAST(sum(CASE WHEN fg = 0 AND d % 5 = 0 THEN 0
                 ELSE 1 END) AS BIGINT) AS mor_rows,
               CAST(sum(CASE WHEN fg = 0 AND d % 5 = 0 THEN 0
                 WHEN fg = 0 AND d % 3 = 0 THEN vm + 7
                 ELSE vm END) AS BIGINT) AS mor_val_sum,
               CAST(1 AS BIGINT) AS scan_equal,
               CAST(1 AS BIGINT) AS remigrate_identical,
               CAST(1 AS BIGINT) AS tamper_refused,
               CAST(1 AS BIGINT) AS snapshot_isolated
        FROM r GROUP BY table_id"""),
      headline = false))
}
