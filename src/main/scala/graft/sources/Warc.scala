package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) record reader — Common Crawl's container format,
  * the natural feeder for [[graft.operators.Html.extractText]]. A
  * WARC file is a concatenation of records, each framed as
  *
  * {{{
  * WARC/1.0\r\n
  * <Name>: <value>\r\n ... header lines ...
  * Content-Length: N\r\n
  * \r\n                      (blank line ends the header block)
  * <N payload bytes>
  * \r\n\r\n                  (record terminator)
  * }}}
  *
  * so the only sound way to walk it is LENGTH FRAMING: hop from
  * record start to record start via the parsed Content-Length —
  * payloads are arbitrary bytes and may themselves contain
  * "WARC/1.0" (a crawled page ABOUT warc files must not desync the
  * reader; a regex split would).
  *
  * The walk is a TYPED two-pass byte scan per file (the
  * [[memberOffsets]] discipline, one layer up): pass 1 walks the raw
  * bytes record-to-record via the parsed Content-Length, verifying
  * magic, header block, bounds, and terminator for EVERY record and
  * requiring the records to tile the file exactly; pass 2 lazily
  * slices one payload per emitted row as Spark consumes the
  * iterator — peak working set is the file cell plus ONE record's
  * payload. The history here is two scale lessons, not style: the
  * round-10 unrolled per-hop column chain blew the optimizer up
  * (exponential expression DAG, a Verify run killed at 50 GB of
  * driver heap — SCALE.md round 10); its replacement, a single SQL
  * `aggregate()` fold, kept the plan fixed-size but paid a full
  * latin-1 String copy of the file (2 bytes/char — a 1 GB segment
  * became 2 GB of chars before parsing started) and an O(records²)
  * `array_append` accumulation, which made multi-thousand-record
  * UNCOMPRESSED segments the one transport the engine couldn't walk
  * (round-15 verdict). The typed map is the shape both ceilings
  * point away from: no decoded copy, O(records) work, per-record
  * emission; plain JVM codec-style work inside `mapPartitions`, no
  * UDF registry, no shuffle — at 100 TB this parses at scan
  * throughput with per-file parallelism.
  *
  * Byte-exact walking: offsets are byte offsets on the raw content;
  * only each record's HEADER block (hundreds of bytes) is decoded —
  * as ISO-8859-1, where every byte maps to exactly one char, so the
  * header regexes see precisely the bytes — and the payload is
  * sliced, never decoded.
  *
  * Malformed-file contract (the [[Multimodal]] broken-file rule): a
  * file whose walk desyncs — a hop landing where no `WARC/1.0\r\n`
  * magic sits, a header block with no terminating blank line or no
  * parseable Content-Length, a missing record terminator, trailing
  * bytes after the last record, or more records than `maxRecords` —
  * contributes NO rows. Truncating on corruption instead of erroring
  * is how a 100k-file crawl batch survives its bad segments; emitting
  * the valid prefix of a desynced file would present half-read data
  * as whole.
  *
  * Header names are matched case-insensitively per the spec; values
  * are taken verbatim to the line's CR. A header absent from a
  * record (warcinfo has no Target-URI) reads as ''. */
object Warc {

  /** One verified record's metadata: header fields + the payload's
    * byte offset/length (the payload itself is sliced lazily at
    * emission — pass 2). */
  private[graft] final case class RecMeta(recType: String, targetUri: String,
                                          warcDate: String, contentLength: Long,
                                          contentType: String, off: Int)

  private val ClenRe =
    java.util.regex.Pattern.compile("(?im)^Content-Length: ([0-9]+)")
  private val TypeRe =
    java.util.regex.Pattern.compile("(?im)^WARC-Type: ([^\r\n]*)")
  private val UriRe =
    java.util.regex.Pattern.compile("(?im)^WARC-Target-URI: ([^\r\n]*)")
  private val DateRe =
    java.util.regex.Pattern.compile("(?im)^WARC-Date: ([^\r\n]*)")
  private val CtypeRe = // the WARC header's Content-Type, NOT HTTP's:
    // `application/http; msgtype=response` marks an enveloped payload
    java.util.regex.Pattern.compile("(?im)^Content-Type: ([^\r\n]*)")

  private def firstGroup(p: java.util.regex.Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) m.group(1) else ""
  }

  /** PASS 1 of the record walk: verify every record of one file (magic,
    * header block, Content-Length bounds, record terminator) and
    * require the records to tile the file exactly. None for ANY
    * violation — desync, missing terminator, trailing bytes, more than
    * `maxRecords` records — so a broken file contributes no rows
    * (the malformed-file contract; emitting a valid prefix would
    * present half-read data as whole). Only header blocks (hundreds
    * of bytes) are decoded; payloads are never touched here. */
  private[graft] def recordOffsets(b: Array[Byte],
                                   maxRecords: Int): Option[IndexedSeq[RecMeta]] = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    if (b.length == 0) return None
    val recs = scala.collection.mutable.ArrayBuffer.empty[RecMeta]
    val magic = "WARC/1.0\r\n".getBytes(latin1)
    var pos = 0
    while (pos < b.length) {
      if (recs.length >= maxRecords) return None // over the writer's cap
      // magic at the record start
      if (pos + 10 > b.length) return None
      var k = 0
      while (k < 10) {
        if (b(pos + k) != magic(k)) return None
        k += 1
      }
      // header end: first \r\n\r\n at byte index >= pos + 9 (the SQL
      // fold searched from 1-based pos+10; an index overlapping the
      // magic's own \n can never match, so the bound is equivalent)
      var h = math.max(pos + 9, 0)
      var hend = -1
      val stop = b.length - 3
      while (hend < 0 && h < stop) {
        if (b(h) == '\r' && b(h + 1) == '\n' && b(h + 2) == '\r' &&
          b(h + 3) == '\n') hend = h
        else h += 1
      }
      if (hend < 0) return None // no terminating blank line
      val hdr = new String(b, pos, hend - pos, latin1)
      val clenStr = firstGroup(ClenRe, hdr)
      if (clenStr.isEmpty) return None
      val clen =
        try clenStr.toLong
        catch { case _: NumberFormatException => return None }
      // bounds + record terminator (Long math: a lying header must
      // fail the check, not overflow it)
      if (hend.toLong + 8 + clen > b.length) return None
      val term = hend + 4 + clen.toInt
      if (b(term) != '\r' || b(term + 1) != '\n' ||
        b(term + 2) != '\r' || b(term + 3) != '\n') return None
      recs += RecMeta(firstGroup(TypeRe, hdr), firstGroup(UriRe, hdr),
        firstGroup(DateRe, hdr), clen, firstGroup(CtypeRe, hdr), hend + 4)
      pos = term + 4
    }
    Some(recs.toIndexedSeq) // pos == b.length: exact tiling
  }

  /** Explode a binary column of whole WARC files into one row per
    * record: (inherited columns…, rec_idx, rec_type, target_uri,
    * warc_date, content_length, payload). `maxRecords` bounds the
    * walk (files with more records are rejected, never half-read) —
    * size it to the writer's records-per-segment; the per-member gz
    * path passes 1 to ENFORCE record-at-a-time member framing. Runs
    * as a typed map (streaming frames compose unchanged — the rung
    * is stateless); payloads are sliced one record at a time as the
    * iterator is consumed. */
  def records(files: DataFrame, contentCol: String = "content",
              maxRecords: Int = 8): DataFrame = {
    require(maxRecords >= 1, "walk needs at least one record hop")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val passFields = files.schema.fields.filterNot(_.name == contentCol)
    val passIdx = passFields.map(f => files.schema.fieldIndex(f.name))
    val cIdx = files.schema.fieldIndex(contentCol)
    val outSchema = StructType(passFields ++ Seq(
      StructField("rec_idx", IntegerType, nullable = false),
      StructField("rec_type", StringType, nullable = true),
      StructField("target_uri", StringType, nullable = true),
      StructField("warc_date", StringType, nullable = true),
      StructField("content_length", LongType, nullable = true),
      StructField("content_type", StringType, nullable = true),
      StructField("payload", BinaryType, nullable = true)))
    files.mapPartitions { it =>
      it.flatMap { row =>
        val bytes = row.getAs[Array[Byte]](cIdx)
        recordOffsets(if (bytes == null) Array.emptyByteArray else bytes,
            maxRecords) match {
          case None => Iterator.empty
          case Some(recs) =>
            val pass = passIdx.map(row.get)
            recs.iterator.zipWithIndex.map { case (r, i) =>
              Row.fromSeq((pass :+ i :+ r.recType :+ r.targetUri :+
                r.warcDate :+ r.contentLength :+ r.contentType :+
                java.util.Arrays.copyOfRange(bytes, r.off,
                  r.off + r.contentLength.toInt)).toSeq)
            }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Strict record-at-a-time gzip member walk (RFC 1952): a real
    * `.warc.gz` is a concatenation of gzip MEMBERS, one per record,
    * so each record is independently seekable. This is PASS 1 of the
    * two-pass member protocol: walk every member of one file — header
    * (magic/CM=8, the four optional FLG fields skipped per spec),
    * raw-deflate inflate (JDK `Inflater`, nowrap) with the output
    * DISCARDED (only CRC32 + byte count are kept), then the 8-byte
    * trailer VERIFIED (CRC32 + ISIZE mod 2^32) — and require the
    * members to tile the file exactly. Returns each member's
    * (compressed-data offset, compressed-data length); None for any
    * violation — a bad magic, a broken deflate stream, a trailer
    * mismatch, trailing garbage — so a CODEC-layer corruption erases
    * the whole FILE (member boundaries past a broken member can't be
    * trusted; the [[records]] malformed-file contract, one layer
    * down). Verifying before emitting anything is what lets PASS 2
    * ([[inflateMember]]) stream one member at a time: peak heap is
    * the compressed input plus ONE decompressed member, never the
    * whole decompressed segment — a real Common Crawl segment is
    * ~1 GB gz / ~4 GB raw, past the 2 GB JVM array ceiling that a
    * whole-file concatenation would hit. The price is inflating
    * twice (verify + emit); codec CPU is cheap next to a 4 GB
    * single-cell allocation that cannot exist.
    *
    * Plain JVM codec work (the PNG-inflate discipline in
    * [[Multimodal.decodePng]]): runs inside a typed map per file, no
    * UDF registry, no shuffle. */
  private[graft] def memberOffsets(
      b: Array[Byte]): Option[IndexedSeq[(Int, Int)]] =
    walkMembers(b, 0L).map(_._1)

  /** [[memberOffsets]] with FUSED verify+decode up to `keepBudget`
    * bytes of decompressed output: pass 1 must inflate every member
    * anyway (gzip records no compressed length, so boundaries are only
    * discoverable by inflating), so for files whose decompressed form
    * fits the budget the walk KEEPS the members and pass 2 never
    * re-inflates — HALF the codec CPU on the common case (round 18,
    * guide §1.2 per-task work). Past the budget the kept prefix is
    * dropped and verification continues output-discarding: a real
    * ~4 GB-decompressed Common Crawl segment keeps the strict
    * two-pass peak (compressed cell + ONE member), exactly the
    * contract documented above. Returns (offsets, Some(members)) when
    * everything was kept, (offsets, None) when the budget was
    * exceeded; None for any codec violation as before. */
  private[graft] def walkMembers(b: Array[Byte], keepBudget: Long):
      Option[(IndexedSeq[(Int, Int)], Option[IndexedSeq[Array[Byte]]])] = {
    if (b.length == 0) return None
    val offs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var kept: scala.collection.mutable.ArrayBuffer[Array[Byte]] =
      if (keepBudget > 0L) scala.collection.mutable.ArrayBuffer.empty
      else null
    var keptBytes = 0L
    var pos = 0
    while (pos < b.length) {
      // fixed header: ID1 ID2 CM FLG MTIME(4) XFL OS
      if (pos + 10 > b.length || (b(pos) & 0xff) != 0x1f ||
          (b(pos + 1) & 0xff) != 0x8b || b(pos + 2) != 8) return None
      val flg = b(pos + 3) & 0xff
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA: little-endian XLEN then bytes
        if (p + 2 > b.length) return None
        p += 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
      }
      if ((flg & 8) != 0) { // FNAME: zero-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p >= b.length) return None
      val infl = new java.util.zip.Inflater(true) // nowrap: raw deflate
      try {
        infl.setInput(b, p, b.length - p)
        val buf = new Array[Byte](8192)
        val crc = new java.util.zip.CRC32()
        var size = 0L
        // fused keep: accumulate this member's output while the file's
        // total stays under budget; on overflow drop EVERYTHING kept
        // (the two-pass protocol takes over) and verify output-free
        val out = if (kept != null)
          new java.io.ByteArrayOutputStream(8192) else null
        while (!infl.finished()) {
          val n =
            try infl.inflate(buf)
            catch { case _: java.util.zip.DataFormatException => return None }
          if (n == 0 && !infl.finished()) return None // truncated stream
          crc.update(buf, 0, n); size += n
          if (kept != null) {
            if (keptBytes + size <= keepBudget) out.write(buf, 0, n)
            else { kept = null; keptBytes = 0L } // over budget: two-pass
          }
        }
        if (kept != null) { kept += out.toByteArray; keptBytes += size }
        // compressed bytes read — bounded by the array length (< 2^31),
        // so the Long→Int narrowing cannot truncate; kept as Long math
        // anyway so the bound is visible
        val read = infl.getBytesRead
        val end = p.toLong + read
        if (end + 8 > b.length) return None // trailer must be present
        offs += ((p, read.toInt))
        p = end.toInt
        def le32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
          ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
        if (le32(p) != crc.getValue ||
            le32(p + 4) != (size & 0xffffffffL)) return None
        pos = p + 8
      } finally infl.end()
    }
    Some((offs.toIndexedSeq,
      if (kept != null) Some(kept.toIndexedSeq) else None))
  }

  /** Decompressed-retention budget for the fused walk (bytes). 64 MB
    * covers every record-at-a-time member file by orders of magnitude
    * while keeping whole-segment concatenations (~4 GB decompressed)
    * on the two-pass path. */
  private[graft] val GzKeepBudget: Long = 64L << 20

  /** PASS 2: inflate ONE already-verified member's raw-deflate bytes.
    * Called lazily per emitted row, so only one member's decompressed
    * form is live at a time. */
  private[graft] def inflateMember(b: Array[Byte], off: Int,
                                   len: Int): Array[Byte] = {
    // Long math: a verified member can legitimately be >512 MB of
    // compressed data (a whole-file-gzipped segment is ONE member),
    // where len * 4 overflows Int negative and the stream ctor throws
    val out = new java.io.ByteArrayOutputStream(
      math.min(len.toLong * 4, 1L << 20).toInt)
    val infl = new java.util.zip.Inflater(true)
    try {
      infl.setInput(b, off, len)
      val buf = new Array[Byte](8192)
      while (!infl.finished()) {
        val n = infl.inflate(buf)
        // pass 1 verified the stream, so zero progress before finish
        // should be impossible — but an impossible state must fail
        // loudly, not spin this loop forever (mirrors pass 1's guard)
        require(n > 0 || infl.finished(),
          s"verified member at off=$off len=$len stalled mid-inflate")
        out.write(buf, 0, n)
      }
    } finally infl.end()
    out.toByteArray
  }

  /** Whole-file member concatenation — [[memberOffsets]] then every
    * member inflated into one buffer. Test/probe surface only: the
    * production path ([[gzRecords]]) never concatenates, precisely
    * because a real segment's concatenation (~4 GB) cannot fit a JVM
    * array. */
  private[graft] def gunzipMembers(b: Array[Byte]): Option[Array[Byte]] =
    memberOffsets(b).map { offs =>
      val out = new java.io.ByteArrayOutputStream(
        math.min(b.length.toLong * 3, 1L << 26).toInt)
      offs.foreach { case (p, l) => out.write(inflateMember(b, p, l)) }
      out.toByteArray
    }

  /** Explode a frame of whole `.warc.gz` files into ONE ROW PER GZIP
    * MEMBER: (idCol, member_idx, contentCol = the member's
    * decompressed bytes). Two-pass per file inside a typed map:
    * [[memberOffsets]] verifies EVERY member before anything is
    * emitted (a file with any codec-layer violation contributes no
    * rows), then the returned iterator inflates members one at a time
    * as Spark consumes rows — peak heap is one decompressed member,
    * never the file's concatenation. */
  def gunzipPerMember(files: DataFrame, contentCol: String = "content",
                      idCol: String = "file_id"): DataFrame = {
    // one walk implementation: the typed map carries the id as a
    // string (any key type rides — synthetic longs, file paths) and
    // the original type is restored on the way out
    val t = files.schema(idCol).dataType
    val members = gunzipPerMemberKeyed(files, contentCol, idCol)
    if (t == org.apache.spark.sql.types.StringType) members
    else members.withColumn(idCol, col(idCol).cast(t))
  }

  /** One row per gzip member over STRING-keyed files — the
    * [[gunzipPerMember]] walk with the id column carried as a string
    * (file PATHS, not synthetic numeric ids). Same two-pass
    * verify-then-lazy-inflate protocol. */
  private def gunzipPerMemberKeyed(files: DataFrame, contentCol: String,
                                   idCol: String): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(idCol).cast("string"), col(contentCol))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        walkMembers(bytes, GzKeepBudget) match {
          case None => Iterator.empty
          case Some((_, Some(members))) => // fused: verified AND decoded
            members.iterator.zipWithIndex.map { case (m, i) => (id, i, m) }
          case Some((offs, None)) => // over budget: strict two-pass
            offs.iterator.zipWithIndex.map {
              case ((p, l), i) => (id, i, inflateMember(bytes, p, l))
            }
        }
      })
      .toDF(idCol, "member_idx", contentCol)
  }

  /** Ingest REAL `.warc.gz` files from disk (or any Hadoop-visible
    * store): Spark's `binaryFile` source reads each file as one
    * (path, content) row — the COMPRESSED segment is the only whole
    * cell that ever exists (a real ~1 GB Common Crawl segment fits;
    * its ~4 GB decompressed form never materializes, because the
    * per-member walk inflates one record at a time) — then the
    * member walk and per-member record fold run exactly as
    * [[gzRecords]]. Output: (path, rec_idx, rec_type, target_uri,
    * warc_date, content_length, payload). The binaryFile source
    * splits by FILE, so a directory of segments parallelizes
    * per-segment — the unit a crawl batch actually ships. */
  def gzRecordsFromFiles(spark: org.apache.spark.sql.SparkSession,
                         pathGlob: String): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz").load(pathGlob)
      .select(col("path"), col("content"))
    gzRecords(files, "content", "path")
  }

  /** [[records]] over `.warc.gz` files — the form every real
    * Common Crawl artifact ships in. Per-member emission
    * ([[gunzipPerMember]]): each gzip member is one row, and the
    * length-framed record fold runs PER MEMBER under the strict
    * record-at-a-time convention (exactly ONE record tiling each
    * member — what every real crawl writer emits, and what makes
    * records independently seekable), so `rec_idx` IS the member
    * index and a segment's record count is unbounded by any fold
    * cap — a 50k-record Common Crawl segment walks with per-member
    * peak memory and O(records) total work (the whole-file fold's
    * `array_append` accumulation was O(records²)).
    *
    * Layered corruption contract: a CODEC violation (bad magic,
    * broken deflate, trailer mismatch, trailing garbage) erases the
    * whole FILE — member boundaries past it can't be trusted; a
    * RECORD-framing violation inside a cleanly-delimited member
    * (a Content-Length lie, a missing terminator, >1 record packed
    * into one member) erases that MEMBER only — the member boundary
    * is exactly the isolation real record-at-a-time framing buys,
    * and is why one bad record doesn't cost a 1 GB segment. */
  def gzRecords(files: DataFrame, contentCol: String = "content",
                idCol: String = "file_id"): DataFrame = {
    val members = gunzipPerMember(files, contentCol, idCol)
    records(members, contentCol, maxRecords = 1)
      .drop("rec_idx")
      .select(col(idCol), col("member_idx").as("rec_idx"), col("rec_type"),
        col("target_uri"), col("warc_date"), col("content_length"),
        col("content_type"), col("payload"))
  }

  /** Gzip one member (RFC 1952; minimal header, FLG=0, zero MTIME so
    * the bytes are deterministic). */
  private def gzipMember(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      defl.setInput(data); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue); le32(data.length.toLong)
    out.toByteArray
  }

  /** Synthetic `.warc.gz` files: the SAME two-record planting as
    * [[synthesizeWarc]] (so the q137 oracle's closed form carries
    * over verbatim), but each record compressed into its OWN gzip
    * member — the record-at-a-time convention real crawl writers use.
    * The corruption plant moves DOWN a layer: `doc_id % corruptEvery
    * == 0` files carry a flipped byte in the response member's CRC32
    * trailer (framing intact, checksum wrong), and the whole file
    * must yield no rows. Codec work → typed map, no expression. */
  def synthesizeWarcGz(docs: DataFrame, corruptEvery: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // resolved per task: Charset instances don't serialize
        val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
        val date = f"2026-01-${id % 9 + 1}%02dT00:00:00Z"
        val info = s"software: graft-$id\r\n"
        val rec0 = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: " +
          date + "\r\nContent-Length: " + info.length +
          "\r\n\r\n" + info + "\r\n\r\n").getBytes(latin1)
        val body = text.getBytes(latin1)
        val rec1 = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://site${id % 7}.example/page/$id\r\n" +
          s"WARC-Date: $date\r\nContent-Length: ${body.length}\r\n\r\n")
          .getBytes(latin1) ++ body ++ "\r\n\r\n".getBytes(latin1)
        val m1 = gzipMember(rec1)
        if (id % corruptEvery == 0) // flip one CRC32 trailer byte
          m1(m1.length - 8) = (m1(m1.length - 8) ^ 0x5a).toByte
        (id, gzipMember(rec0) ++ m1)
      })
      .toDF("file_id", "content")
  }

  /** Synthetic SEGMENT-shaped `.warc.gz` files — the realistic Common
    * Crawl shape the one-file-per-doc plantings never exercise:
    * `recordsPerFile` documents per file (file_id = doc_id /
    * recordsPerFile), each response record in its OWN gzip member,
    * preceded by one warcinfo member (`software: graft-<file_id>`,
    * the segment writer's stamp). Record fields keep the
    * [[synthesizeWarcGz]] closed forms of doc_id, and rec_idx within
    * a file is 1 + the doc's rank by doc_id (member 0 is the
    * warcinfo), so an oracle replays the planting with one window.
    * With `corruptEvery > 0`, files where `file_id % corruptEvery
    * == 0` carry a flipped CRC byte in their MIDDLE member — a
    * codec-layer violation mid-file, which must erase the whole
    * file (never a prefix). The per-file grouping is one shuffle of
    * the docs (fixture synthesis, not a measured operator). */
  def synthesizeWarcGzSegment(docs: DataFrame, recordsPerFile: Int,
                              corruptEvery: Int = 0): DataFrame = {
    require(recordsPerFile >= 1, "a segment holds at least one record")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select((col("doc_id") / recordsPerFile).cast("long").as("fid"),
        col("doc_id"), col("text"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
        val docs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        val out = new java.io.ByteArrayOutputStream()
        val info = s"software: graft-$fid\r\n"
        out.write(gzipMember(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: " +
          info.length + "\r\n\r\n" + info + "\r\n\r\n").getBytes(latin1)))
        val corruptAt = // middle member, counting the warcinfo
          if (corruptEvery > 0 && fid % corruptEvery == 0)
            (docs.length + 1) / 2 else -1
        docs.zipWithIndex.foreach { case ((id, text), k) =>
          val date = f"2026-01-${id % 9 + 1}%02dT00:00:00Z"
          val body = text.getBytes(latin1)
          val m = gzipMember((s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://site${id % 7}.example/page/$id\r\n" +
            s"WARC-Date: $date\r\nContent-Length: ${body.length}\r\n\r\n")
            .getBytes(latin1) ++ body ++ "\r\n\r\n".getBytes(latin1))
          if (k + 1 == corruptAt)
            m(m.length - 8) = (m(m.length - 8) ^ 0x5a).toByte
          out.write(m)
        }
        (fid, out.toByteArray)
      }
      .toDF("file_id", "content")
  }

  /** Synthetic SEGMENT-shaped PLAIN `.warc` files — the uncompressed
    * twin of [[synthesizeWarcGzSegment]]: `recordsPerFile` documents
    * per file (file_id = doc_id / recordsPerFile) concatenated as raw
    * length-framed records after one warcinfo record, no gzip layer.
    * Same closed forms, so the q183 oracle carries over verbatim.
    * With `corruptEvery > 0`, files where `file_id % corruptEvery
    * == 0` plant a Content-Length LIE (+3) in their middle record —
    * with no member boundaries to isolate it, a framing violation
    * anywhere must erase the whole FILE (the uncompressed contract;
    * the gz path would have erased just the member). */
  def synthesizeWarcSegmentPlain(docs: DataFrame, recordsPerFile: Int,
                                 corruptEvery: Int = 0): DataFrame = {
    require(recordsPerFile >= 1, "a segment holds at least one record")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select((col("doc_id") / recordsPerFile).cast("long").as("fid"),
        col("doc_id"), col("text"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
        val docs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        val out = new java.io.ByteArrayOutputStream()
        val info = s"software: graft-$fid\r\n"
        out.write(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: " +
          info.length + "\r\n\r\n" + info + "\r\n\r\n").getBytes(latin1))
        val corruptAt = // middle record, counting the warcinfo
          if (corruptEvery > 0 && fid % corruptEvery == 0)
            (docs.length + 1) / 2 else -1
        docs.zipWithIndex.foreach { case ((id, text), k) =>
          val date = f"2026-01-${id % 9 + 1}%02dT00:00:00Z"
          val body = text.getBytes(latin1)
          val lie = if (k + 1 == corruptAt) 3 else 0
          out.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://site${id % 7}.example/page/$id\r\n" +
            s"WARC-Date: $date\r\nContent-Length: ${body.length + lie}" +
            "\r\n\r\n").getBytes(latin1))
          out.write(body)
          out.write("\r\n\r\n".getBytes(latin1))
        }
        (fid, out.toByteArray)
      }
      .toDF("file_id", "content")
  }

  /** Synthetic multi-record WARC files with REAL framing, one file
    * per document: a `warcinfo` record (variable-length payload —
    * the response record's offset is never fixed) then a `response`
    * record carrying the document text as payload. Every field is a
    * closed form of `doc_id`/`text`, so an oracle can replay the
    * planting without parsing bytes ([[Multimodal.synthesizeAudio]]'s
    * discipline). Docs where `doc_id % corruptEvery == 0` declare a
    * Content-Length 3 bytes PAST the true payload — the terminator
    * check fails and the whole file must yield no rows. */
  def synthesizeWarc(docs: DataFrame, corruptEvery: Int = 50): DataFrame = {
    val id = col("doc_id").cast("string")
    val info = concat(lit("software: graft-"), id, lit("\r\n"))
    val day = lpad((pmod(col("doc_id"), lit(9)) + 1).cast("string"), 2, "0")
    val date = concat(lit("2026-01-"), day, lit("T00:00:00Z"))
    val lie = when(pmod(col("doc_id"), lit(corruptEvery)) === 0, 3L)
      .otherwise(0L)
    val file = concat(
      lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: "), date,
      lit("\r\nContent-Length: "), length(info).cast("string"),
      lit("\r\n\r\n"), info, lit("\r\n\r\n"),
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://site"),
      pmod(col("doc_id"), lit(7)).cast("string"),
      lit(".example/page/"), id,
      lit("\r\nWARC-Date: "), date,
      lit("\r\nContent-Length: "),
      (length(col("text")) + lie).cast("string"),
      lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
    docs.select(col("doc_id").as("file_id"),
      encode(file, "ISO-8859-1").as("content"))
  }

  // ---------------------------------------------------------------
  // HTTP response envelope (the payload layer INSIDE a response
  // record)
  // ---------------------------------------------------------------

  /** True iff a record's WARC `Content-Type` declares an HTTP-message
    * payload (`application/http; msgtype=response` — what every real
    * Common Crawl response record carries). Bare-payload records (the
    * synthetic plantings, WET-style conversions) read false and skip
    * the envelope layer entirely. */
  def isHttpPayload(warcContentType: Column): Column =
    lower(warcContentType).startsWith("application/http")

  /** Split an `application/http; msgtype=response` payload into its
    * HTTP layers — the rung a real `.warc.gz` from the wild needs
    * before ANY text extraction (without it the status line and
    * response headers enter the corpus as prose, and 301/404/503
    * bodies pass as documents):
    *
    * {{{ HTTP/1.1 200 OK\r\n <headers> \r\n\r\n <body bytes> }}}
    *
    * Appends to `recs` (any frame with `payloadCol` binary +
    * `warcCtypeCol` string — [[records]]/[[gzRecords]] output):
    *  - `http_status` INT — the status line's code; NULL when the
    *    record is not enveloped OR the envelope is malformed (no
    *    status line / no header terminator), so a status filter
    *    (`http_status === 200`) kills broken envelopes with the
    *    non-200s — the malformed-record contract at the HTTP layer;
    *  - `mime` STRING — the media type of the HTTP `Content-Type`
    *    header, lowercased, parameters stripped (`text/html`); NULL
    *    for non-enveloped records, '' when the header is absent;
    *  - `http_charset` STRING — the `charset=` parameter verbatim
    *    (lowercased, quotes stripped), '' when absent, NULL for
    *    non-enveloped records;
    *  - `http_location` STRING — the `Location` header verbatim
    *    ('' when absent, NULL for non-enveloped records): a 3xx
    *    record's body is a stub, but its Location is a DISCOVERY —
    *    real crawls route it into the frontier with the extracted
    *    links (the q202 composition);
    *  - `body` BINARY — the entity bytes after the blank line; for a
    *    NON-enveloped record, the payload unchanged (so downstream
    *    text extraction reads `body` regardless of transport era).
    *
    * All scalar codegen'd string ops riding the scan (the envelope
    * header is decoded via the byte-transparent latin-1 map, the body
    * re-encoded the same way — byte-lossless both directions, the
    * [[records]] header discipline); no shuffle, no driver work. */
  def httpResponses(recs: DataFrame, payloadCol: String = "payload",
                    warcCtypeCol: String = "content_type"): DataFrame = {
    val isHttp = isHttpPayload(col(warcCtypeCol))
    val s = decode(col(payloadCol), "ISO-8859-1")
    val sep = locate("\r\n\r\n", s) // 1-based; 0 = no header terminator
    val statusStr =
      regexp_extract(s, "^HTTP/1\\.[01] ([0-9]{3})", 1)
    val status = when(sep > 0, nullif(statusStr, lit(""))).cast("int")
    val headers = s.substr(lit(1), sep - 1)
    val ctRaw = regexp_extract(headers,
      "(?im)^Content-Type:[ \\t]*([^\r\n]*)", 1)
    val mime = lower(trim(regexp_extract(ctRaw, "^([^;]*)", 1)))
    val charset = lower(
      regexp_extract(ctRaw, "(?i)charset[ \\t]*=[ \\t]*\"?([A-Za-z0-9._-]+)", 1))
    val location = trim(regexp_extract(headers,
      "(?im)^Location:[ \\t]*([^\r\n]*)", 1))
    val bodyHttp = encode(s.substr(sep + 4, lit(Int.MaxValue)),
      "ISO-8859-1")
    recs
      .withColumn("http_status", when(isHttp, status))
      .withColumn("mime", when(isHttp, mime))
      .withColumn("http_charset", when(isHttp, charset))
      .withColumn("http_location", when(isHttp, location))
      .withColumn("body",
        when(isHttp && col("http_status").isNotNull, bodyHttp)
          .when(!isHttp, col(payloadCol)))
  }

  /** Synthetic SEGMENT-shaped `.warc.gz` files whose response records
    * carry REAL HTTP envelopes — [[synthesizeWarcGzSegment]] with the
    * payload layer Common Crawl actually ships
    * (`Content-Type: application/http; msgtype=response` in the WARC
    * header; status line + response headers + CRLF CRLF + entity in
    * the payload). Closed-form status planting, all of `doc_id`:
    *  - `doc_id % 10 == 3` → 404 with a constant not-found page;
    *  - `doc_id % 10 == 7` → 301 with a `Location:` header to the
    *    successor page and a constant moved stub;
    *  - `doc_id % 10 == 9` → 503 with a constant busy page;
    *  - otherwise 200 — body = the doc's `text`, and
    *    `doc_id % 11 == 5` serves it as `text/plain` (the mime-gate
    *    plant), else `text/html; charset=utf-8`.
    * An html-document gate must therefore keep exactly
    * `doc_id % 10 NOT IN (3,7,9) AND doc_id % 11 != 5`. */
  def synthesizeWarcGzHttpSegment(docs: DataFrame,
                                  recordsPerFile: Int): DataFrame = {
    require(recordsPerFile >= 1, "a segment holds at least one record")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select((col("doc_id") / recordsPerFile).cast("long").as("fid"),
        col("doc_id"), col("text"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (fid, it) =>
        val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
        val docs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        val out = new java.io.ByteArrayOutputStream()
        val info = s"software: graft-$fid\r\n"
        out.write(gzipMember(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: " +
          info.length + "\r\n\r\n" + info + "\r\n\r\n").getBytes(latin1)))
        docs.foreach { case (id, text) =>
          val date = f"2026-01-${id % 9 + 1}%02dT00:00:00Z"
          val (status, reason, extra, bodyStr) = (id % 10) match {
            case 3 => (404, "Not Found", "",
              "<html><body>Not Found</body></html>")
            case 7 => (301, "Moved Permanently",
              s"Location: http://site${(id + 1) % 7}.example/page/${id + 1}\r\n",
              "<html><body>Moved</body></html>")
            case 9 => (503, "Service Unavailable", "",
              "<html><body>Busy</body></html>")
            case _ => (200, "OK", "", text)
          }
          val ctype =
            if (status == 200 && id % 11 == 5) "text/plain"
            else "text/html; charset=utf-8"
          val body = bodyStr.getBytes(latin1)
          val http = (s"HTTP/1.1 $status $reason\r\n" +
            s"Content-Type: $ctype\r\n" + extra +
            s"Content-Length: ${body.length}\r\nServer: graft\r\n\r\n")
            .getBytes(latin1) ++ body
          out.write(gzipMember((s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://site${id % 7}.example/page/$id\r\n" +
            s"WARC-Date: $date\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${http.length}\r\n\r\n")
            .getBytes(latin1) ++ http ++ "\r\n\r\n".getBytes(latin1)))
        }
        (fid, out.toByteArray)
      }
      .toDF("file_id", "content")
  }
}
