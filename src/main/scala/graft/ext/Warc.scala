package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * WET-style web-archive record codec — the Common Crawl ingest path.
 * A crawl corpus arrives as WET/WARC files: each file is a
 * concatenation of records, each record a `WARC/1.0` version line,
 * `Header-Name: value` lines, a blank line, then exactly
 * `Content-Length` payload characters. This module renders a document
 * frame into that shape and parses it back with pure Column functions
 * (`split`/`posexplode`/`regexp_extract`/`substr` — all codegen'd, no
 * UDFs), so ingest-format parsing joins the media container parsers
 * ([[MediaCodecs]]) as a first-class, oracle-checked operator family.
 *
 * Scale posture: the FILE is the unit of parallelism, exactly as in
 * production WET ingest (one ~1 GB file per task) — parsing is a
 * per-row projection + explode, no shuffle at all; rendering is one
 * `collect_list` aggregate per shard, so the caller's shard column
 * must bound records-per-file (the same contract real WET writers
 * keep). Record boundaries are found by resyncing on the version
 * line, then the payload is sliced to the declared `Content-Length`;
 * a payload that itself contains the version marker therefore splits
 * early and surfaces as `intact = false` (truncated slice) rather
 * than silently corrupting neighbours — the standard resync
 * behaviour, pinned in WarcSpec.
 *
 * Content-Length has BOTH orientations: the default character mode
 * (char ≡ byte on an ASCII corpus) and `byteOriented = true`, which
 * renders `Content-Length` as the payload's UTF-8 OCTET count and
 * parses by slicing the declared bytes out of the record's binary
 * form — the real WET contract, divergent from character mode on any
 * multi-byte text. In byte mode a truncated record (early resync)
 * yields a null payload rather than a decode of partial bytes: a
 * byte-truncated slice can end mid-character, which is not valid
 * UTF-8 — `intact = false` is the row's signal, exactly as in
 * character mode. The reference has no archive handling at all (it
 * posts generated text to S3/Lambda, src/main.py:959-1020) — this is
 * training-data-pipeline extension surface, not reference parity.
 */
object Warc {

  /** Version line opening every record; doubles as the resync marker. */
  private[graft] val VersionLine = "WARC/1.0\r\n"

  /** Regex form of [[VersionLine]] for the record split. */
  private[graft] val VersionSplit = "WARC/1\\.0\\r\\n"

  /** Header/payload separator (blank line, CRLF convention). */
  private[graft] val HeaderSep = "\r\n\r\n"

  /**
   * One WET-style record per input row:
   * {{{
   * WARC/1.0\r\n
   * WARC-Type: conversion\r\n
   * WARC-Target-URI: <url>\r\n
   * WARC-Record-ID: <urn:graft:<id>>\r\n
   * Content-Length: <length(text)>\r\n
   * \r\n
   * <text>\r\n\r\n
   * }}}
   * Deterministic (the record id is the document id, not a random
   * uuid), so render∘parse is an identity both engines can state.
   * `byteOriented` declares Content-Length in UTF-8 octets (the real
   * WET contract) instead of characters.
   */
  def record(id: Column, url: Column, text: Column,
      warcType: String = "conversion", byteOriented: Boolean = false): Column =
    concat(
      lit(VersionLine),
      lit(s"WARC-Type: $warcType\r\n"),
      lit("WARC-Target-URI: "), url, lit("\r\n"),
      lit("WARC-Record-ID: <urn:graft:"), id.cast("string"), lit(">\r\n"),
      lit("Content-Length: "),
      (if (byteOriented) octet_length(text) else length(text)).cast("string"),
      lit("\r\n"),
      // The last header already ends with \r\n, so the blank line that
      // closes the header block is one more \r\n, not a full HeaderSep.
      lit(HeaderSep.drop(2)),
      text, lit(HeaderSep))

  /**
   * Concatenate records into one file per shard — `(shard, content)`,
   * records ordered by id inside the file (array_sort on the
   * (id, record) struct, so the file bytes are partitioning-stable).
   * One grouped aggregate; the caller's shard key bounds file size.
   */
  def renderFiles(docs: DataFrame, shardCol: String = "shard",
      idCol: String = "doc_id", urlCol: String = "url",
      textCol: String = "text", warcType: String = "conversion",
      byteOriented: Boolean = false): DataFrame =
    docs
      .select(col(shardCol).as("shard"),
        struct(col(idCol).as("k"),
          record(col(idCol), col(urlCol), col(textCol), warcType,
            byteOriented).as("rec")).as("e"))
      .groupBy("shard")
      .agg(array_join(transform(array_sort(collect_list(col("e"))),
        e => e("rec")), "").as("content"))

  /** One deterministic gzip member (Java's fixed header: MTIME 0,
    * XFL 0, OS 0) holding exactly `bytes` — the per-RECORD unit of
    * real WARC compression. The codec itself lives in
    * [[graft.plans.Native.gzipMember]], shared with the per-row
    * `gzip` expression. */
  private def gzipMember(bytes: Array[Byte]): Array[Byte] =
    graft.plans.Native.gzipMember(bytes)

  /**
   * Render per-record-gzipped WARC files — the REAL Common Crawl disk
   * contract (`.warc.gz` is a concatenation of gzip MEMBERS, one per
   * record, so a reader can seek to any record and inflate it alone):
   * `(shard, content: binary)` where `content` is the member-wise
   * gzip of the same id-ordered records [[renderFiles]] lays out.
   * The grouped aggregate collects the bounded per-shard record list
   * (the caller's shard key bounds file size, the [[renderFiles]]
   * contract), then a typed `mapPartitions` kernel deflates each
   * record into its own member — variable-length binary assembly is
   * exactly the shape the [[MediaCodecs]] kernel path exists for;
   * everything before it is the unchanged Column render.
   */
  def renderGzipFiles(docs: DataFrame, shardCol: String = "shard",
      idCol: String = "doc_id", urlCol: String = "url",
      textCol: String = "text", warcType: String = "conversion",
      byteOriented: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(shardCol).cast("long").as("shard"),
        struct(col(idCol).as("k"),
          record(col(idCol), col(urlCol), col(textCol), warcType,
            byteOriented).as("rec")).as("e"))
      .groupBy("shard")
      .agg(transform(array_sort(collect_list(col("e"))),
        e => e("rec")).as("recs"))
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        rows.map { case (shard, recs) =>
          val bos = new java.io.ByteArrayOutputStream()
          recs.foreach { r =>
            bos.write(gzipMember(
              r.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
          (shard, bos.toByteArray)
        }
      }
      .toDF("shard", "content")
  }

  /**
   * Inflate a concatenation of gzip members MEMBER BY MEMBER (RFC
   * 1952 framing walked explicitly), validating each member's header,
   * CRC32, and ISIZE and requiring the members to tile the input
   * exactly. Java's `GZIPInputStream` would instead treat an
   * unparseable *subsequent* member header as a clean end-of-stream —
   * a file whose first member is valid but whose later member is
   * corrupt would inflate to silently truncated content; here any
   * leftover bytes, bad magic, truncated deflate stream, or
   * CRC/length mismatch throws `IOException` (the caller degrades the
   * row to `gz_ok = false`). Pinned by WarcSpec's
   * corrupt-second-member case. The member walk itself lives in
   * [[graft.plans.Native.gunzipMembers]], shared with the per-row
   * `gunzip_try` expression ([[parseHttpEncoded]]'s body decode).
   */
  private def inflateMembers(bytes: Array[Byte]): Array[Byte] =
    graft.plans.Native.gunzipMembers(bytes)

  /**
   * Inflate per-record-gzipped WARC files back to the plain-text file
   * form: `(shard, content: string, gz_ok)` — concatenated gzip
   * members inflate to the concatenated records, so the unchanged
   * Column [[parseRecords]] runs downstream and the whole gz ingest
   * is `parseRecords(inflateGzipFiles(gz))`. A corrupt file DEGRADES
   * (`content` null, `gz_ok` false) instead of killing the stage — at
   * 100 TB a bad shard is a row to quarantine, not a job failure —
   * and corruption ANYWHERE in the file is detected: members are
   * walked one by one ([[inflateMembers]]) with per-member CRC/ISIZE
   * checks and an exact-tiling requirement, where a plain
   * `GZIPInputStream` loop would silently truncate at the first
   * unparseable later member and report success. Typed
   * `mapPartitions` kernel (stream inflation is imperative by
   * nature); the file stays the unit of parallelism, zero shuffle.
   */
  def inflateGzipFiles(gz: DataFrame, shardCol: String = "shard",
      contentCol: String = "content"): DataFrame = {
    val spark = gz.sparkSession
    import spark.implicits._
    gz.select(col(shardCol).cast("long").as("shard"),
        col(contentCol).as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (shard, bytes) =>
          try {
            (shard, new String(inflateMembers(bytes),
              java.nio.charset.StandardCharsets.UTF_8), true)
          } catch {
            case _: java.io.IOException => (shard, null: String, false)
          }
        }
      }
      .toDF("shard", "content", "gz_ok")
  }

  /**
   * Parse WET-style files back into records: split `content` on the
   * version line, explode, extract the headers, slice the payload to
   * the declared Content-Length. Emits
   * `(shard, rec_pos, rec_id, uri, content_length, payload, intact)`
   * where `rec_pos` is the record's ordinal in its file and `intact`
   * is false when fewer than `content_length` characters were
   * available (early resync / truncated file). With
   * `byteOriented = true` the declared length is UTF-8 OCTETS: the
   * payload is sliced as `content_length` bytes out of the record's
   * binary form and decoded back — null (with `intact = false`) when
   * fewer bytes were available, since a byte-truncated slice can end
   * mid-character. Pure stateless projection either way —
   * streaming-safe as-is (no watermark, no state), the ingest gate a
   * `readStream` of arriving crawl files runs first.
   */
  def parseRecords(files: DataFrame, shardCol: String = "shard",
      contentCol: String = "content", byteOriented: Boolean = false): DataFrame = {
    val rec = col("rec")
    val headers = substring_index(rec, HeaderSep, 1)
    // nullif-guard the casts: an orphan fragment (resync inside a
    // payload) extracts '' and ANSI cast would throw, not null.
    val declared =
      nullif(regexp_extract(headers, "Content-Length: ([0-9]+)", 1), lit(""))
        .cast("long")
    val (payload, intact) =
      if (!byteOriented) {
        val p = rec.substr(length(headers) + lit(HeaderSep.length + 1),
          declared)
        (p, length(p) >= declared)
      } else {
        // slice the declared OCTETS from the record's UTF-8 bytes;
        // headers are measured in octets too (a non-ASCII URI still
        // offsets correctly)
        val bin = encode(rec, "UTF-8")
        val pBin = bin.substr(octet_length(headers) + lit(HeaderSep.length + 1),
          declared)
        val ok = octet_length(pBin) >= declared
        (when(ok, decode(pBin, "UTF-8")), ok)
      }
    files
      .select(col(shardCol).as("shard"),
        posexplode(split(col(contentCol), VersionSplit)).as(Seq("rec_pos", "rec")))
      .where(rec =!= "")
      .select(
        col("shard"),
        (col("rec_pos") - 1).as("rec_pos"), // drop the pre-marker empty slot
        nullif(regexp_extract(headers, "WARC-Record-ID: <urn:graft:([0-9]+)>", 1),
          lit("")).cast("long").as("rec_id"),
        regexp_extract(headers, "WARC-Type: ([^\r\n]*)", 1).as("warc_type"),
        regexp_extract(headers, "WARC-Target-URI: ([^\r\n]*)", 1).as("uri"),
        declared.as("content_length"),
        payload.as("payload"),
        intact.as("intact"))
  }

  /**
   * HTTP message payload for a WARC *response* record (the raw-crawl
   * layer one below WET): status line, Content-Type, an optional
   * `Location` header (the 3xx redirect target — null renders no
   * header), any extra raw header lines (`extraHeaders`, each
   * including its own leading CRLF — e.g.
   * `"\r\nTransfer-Encoding: chunked"`), a fixed Server header,
   * blank line, body.
   */
  /** Status code out of a response's first line. Real crawls carry
    * three status-line shapes — `HTTP/1.0`, `HTTP/1.1`, and `HTTP/2`
    * (h2 has no minor version; some proxies still write `HTTP/2.0`) —
    * and a parse pinned to 1.1 alone silently drops every 1.0 origin
    * as "not an HTTP payload" (status null, kept false), which is a
    * coverage hole, not a safety behaviour. HTTP/0.9 responses have
    * no status line at all and stay null (conservatively not kept). */
  private def statusOf(httpHeaders: Column): Column =
    nullif(regexp_extract(httpHeaders,
      "^HTTP/(?:1\\.[01]|2(?:\\.0)?) ([0-9]{3})", 1), lit(""))
      .cast("int")

  /** One response-header value, or null when absent. HTTP field names
    * are case-INSENSITIVE and the colon may be followed by optional
    * whitespace (RFC 9112 OWS) — real servers emit `content-type:`
    * and `Location:<no space>` in volume, and a canonical-case
    * single-space pin silently nulls them all. Line-anchored
    * (`(?im)^`), so `X-Content-Type:` can never satisfy a
    * `Content-Type` lookup. */
  private def headerOf(httpHeaders: Column, name: String): Column =
    // Pattern.quote: the helper's signature invites arbitrary names, so
    // regex metacharacters in a future caller's name must match
    // literally. RFC 9110 field-value trimming on BOTH ends (a
    // `Location: url \r\n` must not leak a trailing space into
    // exact-URL joins): leading OWS is consumed by the greedy `[ \t]*`
    // before the capture; trailing OWS is removed by rtrim on the
    // extracted value. A lazy capture anchored at line end
    // (`([^\r\n]*?)[ \t]*$`) computes the same value but re-tests the
    // tail at every character of every header value — a backtracking
    // cost multiplier in the per-row hot path of the whole WARC/HTTP
    // family (x_warc_charset +40-63% when it shipped that way).
    nullif(rtrim(regexp_extract(httpHeaders,
      "(?im)^" + java.util.regex.Pattern.quote(name) +
        ":[ \t]*([^\r\n]*)", 1), " \t"), lit(""))

  def httpPayload(status: Column, contentType: Column, body: Column,
      location: Column = lit(null).cast("string"),
      extraHeaders: Column = lit("")): Column =
    concat(lit("HTTP/1.1 "), status,
      lit("\r\nContent-Type: "), contentType,
      when(location.isNotNull, concat(lit("\r\nLocation: "), location))
        .otherwise(lit("")),
      coalesce(extraHeaders, lit("")),
      lit("\r\nServer: graft/1.0\r\n"),
      lit(HeaderSep.drop(2)), body)

  /**
   * The WET-derivation step over parsed response records: split each
   * payload into its HTTP status / Content-Type / body and decide
   * `kept` — status 200 with a `text/`-prefixed mime — exactly the filter
   * Common Crawl applies when deriving WET conversions from raw WARC
   * responses. Adds `(status_code, mime, body, kept)` to
   * [[parseRecords]] output; non-HTTP payloads (e.g. a conversion
   * record) carry nulls and `kept = false`. Pure stateless projection,
   * same zero-shuffle / streaming-safe posture as the record parse.
   */
  def parseHttp(parsed: DataFrame): DataFrame = {
    val payload = col("payload")
    val httpHeaders = substring_index(payload, HeaderSep, 1)
    val status = statusOf(httpHeaders)
    val mime = nullif(trim(substring_index(
      coalesce(headerOf(httpHeaders, "Content-Type"), lit("")), ";", 1)),
      lit(""))
    val body = when(status.isNotNull,
      payload.substr(length(httpHeaders) + lit(HeaderSep.length + 1),
        length(payload)))
    parsed
      .withColumn("status_code", status)
      .withColumn("mime", mime)
      .withColumn("location", headerOf(httpHeaders, "Location"))
      .withColumn("body", body)
      .withColumn("kept",
        coalesce(status === 200 && mime.startsWith("text/"), lit(false)))
  }

  /** Windows-1252's 0x80–0x9F gremlin block as a `translate` pair
    * over the latin-1 byte view: cp1252 differs from ISO-8859-1 ONLY
    * in those 32 positions, 27 of which map to punctuation/letters
    * (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ); the 5
    * undefined bytes (0x81 0x8D 0x8F 0x90 0x9D) pass through as their
    * same-value control codepoints per the WHATWG encoding standard
    * (what browsers do on real web bytes; Java's decoder would emit
    * U+FFFD there — pinned in WarcSpec). */
  private val Cp1252From =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008A" +
    "\u008B\u008C\u008E\u0091\u0092\u0093\u0094\u0095\u0096\u0097" +
    "\u0098\u0099\u009A\u009B\u009C\u009E\u009F"
  private val Cp1252To =
    "€‚ƒ„…†‡ˆ‰Š" +
    "‹ŒŽ‘’“”•–—" +
    "˜™š›œžŸ"

  /**
   * Charset-aware HTTP parse — [[parseHttp]] upgraded to honor the
   * Content-Type `charset=` parameter, the real-crawl contract
   * ([[parseHttp]] assumes the payload is already correctly-decoded
   * text; real WARCs carry latin-1 / windows-1252 / utf-8 BYTES).
   *
   * The payload column must be the LATIN-1 BYTE VIEW of the raw HTTP
   * message: ISO-8859-1 decoding is a lossless byte↔char bijection,
   * so a binary payload rides the existing string machinery with
   * char positions ≡ byte offsets — `decode(bin, "ISO-8859-1")` turns
   * any byte stream into this view, and the character-mode
   * [[record]]/[[parseRecords]] framing over view strings IS
   * byte-oriented framing of the underlying bytes. Headers are ASCII
   * (self-equal in the view); the body is re-decoded per the declared
   * charset: utf-8 via encode-back + decode, latin-1/us-ascii is the
   * view itself, windows-1252 is the view with the 0x80–0x9F gremlin
   * block translated ([[Cp1252From]] — exact, since cp1252 is
   * latin-1 everywhere else). A missing or unrecognized charset falls
   * back to `defaultCharset` (utf-8, the WET convention). Adds
   * `charset` (the declared parameter, lowercased, null when absent)
   * next to [[parseHttp]]'s columns. Pure stateless projection —
   * same zero-shuffle / streaming-safe posture.
   */
  /** Decode a latin-1 byte-view body per its declared charset `cs`
    * (already lowercased, non-null) — the [[parseHttpCharset]] /
    * [[parseHttpEncoded]] shared last step. Single-byte charsets stay
    * pure Column work (the view itself / the cp1252 translate / the
    * utf-8 encode-back); multi-byte CJK charsets (shift_jis, euc-jp,
    * gb18030, gbk, euc-kr, big5 + WHATWG label aliases) dispatch
    * per-row through the bounded `decode_charset` kernel — Spark's
    * `decode` takes only constant charsets and no translate trick
    * extends to multi-byte codecs. */
  private def decodeViewCharset(bodyView: Column, cs: Column): Column =
    when(bodyView.isNull, lit(null).cast("string"))
      .when(cs.isin("iso-8859-1", "latin-1", "latin1", "us-ascii", "ascii"),
        bodyView)
      .when(cs.isin("windows-1252", "cp1252"),
        translate(bodyView, Cp1252From, Cp1252To))
      .when(cs.isin(graft.plans.Native.cjkLabels.map(x => x: Any): _*),
        graft.plans.NativeFunctions.decodeCharset(
          encode(bodyView, "ISO-8859-1"), cs))
      // utf-8 and the unknown-charset fallback: encode the view back
      // to its bytes, decode those as UTF-8
      .otherwise(decode(encode(bodyView, "ISO-8859-1"), "UTF-8"))

  def parseHttpCharset(parsed: DataFrame,
      defaultCharset: String = "utf-8"): DataFrame = {
    val payload = col("payload")
    val httpHeaders = substring_index(payload, HeaderSep, 1)
    val status = statusOf(httpHeaders)
    val ctypeRaw = coalesce(headerOf(httpHeaders, "Content-Type"), lit(""))
    val mime = nullif(trim(substring_index(ctypeRaw, ";", 1)), lit(""))
    val charset = lower(nullif(
      regexp_extract(ctypeRaw, "(?i)charset=\"?([0-9A-Za-z._-]+)", 1),
      lit("")))
    val bodyView = when(status.isNotNull,
      payload.substr(length(httpHeaders) + lit(HeaderSep.length + 1),
        length(payload)))
    val cs = coalesce(charset, lit(defaultCharset.toLowerCase))
    parsed
      .withColumn("status_code", status)
      .withColumn("mime", mime)
      .withColumn("charset", charset)
      .withColumn("location", headerOf(httpHeaders, "Location"))
      .withColumn("body", decodeViewCharset(bodyView, cs))
      .withColumn("kept",
        coalesce(status === 200 && mime.startsWith("text/"), lit(false)))
  }

  /**
   * Content-decoding HTTP parse — [[parseHttpCharset]] upgraded to
   * honor the wire codings real raw crawls carry BELOW the charset
   * layer: transfer codings removed first (hop-by-hop, the layer the
   * sender applied last), content codings second, then the declared
   * charset decodes the result exactly as before. Supported codings:
   * `chunked` framing, `gzip`/`x-gzip` member-walking inflate, and
   * `deflate` (zlib-sniffed with a raw-deflate fallback — the classic
   * server misconfiguration; real crawls carry deflate second only to
   * gzip). Either header may carry a comma-separated CODING LIST
   * (RFC 7230 §3.3.1: `Transfer-Encoding: gzip, chunked` means
   * gzipped then chunked — the kernel removes the list right-to-left).
   * Without this step a compressed body parses as garbage text — the
   * silent-corruption mode this closes.
   *
   * Same latin-1 byte-view contract as [[parseHttpCharset]]: framing
   * and compressed bytes ride view strings (char ≡ byte), both
   * codings removed by ONE fused `decode_http_body` kernel call
   * (chunked walk then member-walking inflate in a single imperative
   * pass — the two-kernel Column composition re-evaluated the chain
   * per output column, ~3× the parse cost; the composed
   * `dechunk_try`/`gunzip_try` expressions remain for spec/direct
   * use, equality-pinned on the same body classes). Corruption
   * degrades per-row. Adds `transfer_encoding` and
   * `content_encoding` (lowercased header values, null when absent)
   * and `body_ok` next to [[parseHttpCharset]]'s columns: `body_ok`
   * is false — with a null `body` — when a declared coding is
   * malformed (corrupt gzip/deflate, bad chunk framing) OR
   * unsupported (e.g. `br`, `zstd`: flagged for quarantine rather
   * than passed through as garbage). Identity codings and bodiless rows are
   * trivially ok. `kept` additionally requires `body_ok` here (a WET
   * derivation must not keep a page whose body never decoded). Pure
   * stateless projection — zero-shuffle / streaming-safe as the rest
   * of the family.
   */
  def parseHttpEncoded(parsed: DataFrame,
      defaultCharset: String = "utf-8"): DataFrame = {
    val payload = col("payload")
    val httpHeaders = substring_index(payload, HeaderSep, 1)
    val status = statusOf(httpHeaders)
    val ctypeRaw = coalesce(headerOf(httpHeaders, "Content-Type"), lit(""))
    val mime = nullif(trim(substring_index(ctypeRaw, ";", 1)), lit(""))
    val charset = lower(nullif(
      regexp_extract(ctypeRaw, "(?i)charset=\"?([0-9A-Za-z._-]+)", 1),
      lit("")))
    val te = lower(nullif(trim(
      coalesce(headerOf(httpHeaders, "Transfer-Encoding"), lit(""))),
      lit("")))
    val ce = lower(nullif(trim(
      coalesce(headerOf(httpHeaders, "Content-Encoding"), lit(""))),
      lit("")))
    val bodyView = when(status.isNotNull,
      payload.substr(length(httpHeaders) + lit(HeaderSep.length + 1),
        length(payload)))
    // one fused kernel call removes both coding layers; null te/ce
    // pre-coalesce to "" (≡ absent ≡ identity). A bodiless row gives
    // a null struct: trivially ok, null body.
    val res = graft.plans.NativeFunctions.decodeHttpBody(bodyView,
      coalesce(te, lit("")), coalesce(ce, lit("")))
    val bodyOk = coalesce(res("ok"), lit(true))
    val cs = coalesce(charset, lit(defaultCharset.toLowerCase))
    parsed
      .withColumn("status_code", status)
      .withColumn("mime", mime)
      .withColumn("charset", charset)
      .withColumn("transfer_encoding", te)
      .withColumn("content_encoding", ce)
      .withColumn("location", headerOf(httpHeaders, "Location"))
      .withColumn("body_ok", bodyOk)
      // a failed decode carries a null body in the struct already
      .withColumn("body", decodeViewCharset(res("body"), cs))
      .withColumn("kept",
        coalesce(status === 200 && mime.startsWith("text/"), lit(false)) &&
          bodyOk)
  }

  /**
   * Chain-resolve a redirect edge set `(src, dst)` — the 301/302
   * `Location` pairs [[parseHttp]] surfaces — to each source's FINAL
   * target: `(src, final_url, hops, looped)`. The canonical-target
   * feed for `urlDedup` and the frontier (a crawler should neither
   * refetch nor separately count a page it reaches via redirects).
   *
   * Pointer doubling over the FUNCTIONAL redirect map (one Location
   * per fetched URL, so every chain has exactly one direction to
   * follow): each round composes the map with itself (`dst <- map(dst)`,
   * accumulating hop counts), so a chain of length L resolves in
   * ceil(log2 L) rounds of narrow joins. URLs enter the rounds as
   * 8-byte `xxhash64` keys against a distinct `(hash, url)`
   * dictionary — URL text never rides the iterated shuffles, only the
   * two final re-attach joins. An entry still pointing at a redirect
   * source after `maxRounds` rounds (chain longer than
   * [[RedirectHopBudget]] = 2^maxRounds composed hops, i.e. any
   * cycle, or a chain past the crawler's redirect budget — curl's
   * default limit is 30 hops ≈ maxRounds 5) is flagged `looped` with
   * null final/hops, exactly how a production fetcher treats a
   * redirect-limit hit. The x_redirect_resolve oracle's recursive CTE
   * caps at the SAME 32-hop budget, so both sides give identical
   * resolved-vs-looped verdicts at every chain length.
   */
  /** Composed-hop budget of [[resolveRedirects]] at its default
    * `maxRounds` — the shared constant the oracle CTE's hop cap
    * derives from. */
  val RedirectHopBudget: Int = 1 << 5

  def resolveRedirects(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 5): DataFrame = {
    // narrow (src, dst) projection materialized once: the dictionary,
    // source-set, and seed map below all read it
    val e0 = edges.select(col(srcCol).as("__su"), col(dstCol).as("__du"))
      .localCheckpoint()
    val dict = e0.select(col("__su").as("url"))
      .union(e0.select(col("__du").as("url")))
      .distinct()
      .select(xxhash64(col("url")).as("h"), col("url"))
      .localCheckpoint()
    val srcs = e0.select(xxhash64(col("__su")).as("__s")).distinct()
      .localCheckpoint()
    // the doubling map is re-joined against ITSELF each round — left
    // leg on dst_h, hop leg on src_h. The checkpoint records the
    // src_h layout (partitioning-preserving bridge, scale-adaptive
    // count — the hostRank posture), so the hop/alias leg plans no
    // exchange per round; only the dst_h leg shuffles.
    val mParts = graft.ext.LinkGraph.loopPartitions(edges, e0.count())
    var m = org.apache.spark.sql.graft.CheckpointBridge.localCheckpointHashed(
      e0.select(xxhash64(col("__su")).as("src_h"),
        xxhash64(col("__du")).as("dst_h"), lit(1L).as("hops")),
      Seq("src_h"), mParts)
    def unresolved(df: DataFrame): Long =
      df.join(srcs, df("dst_h") === col("__s"), "left_semi").count()
    var round = 0
    var open = unresolved(m)
    while (round < maxRounds && open > 0) {
      val hop = m.select(col("src_h").as("__mid"), col("dst_h").as("__nxt"),
        col("hops").as("__h2"))
      m = org.apache.spark.sql.graft.CheckpointBridge.localCheckpointHashed(
        m.join(hop, m("dst_h") === col("__mid"), "left")
          .select(col("src_h"),
            coalesce(col("__nxt"), col("dst_h")).as("dst_h"),
            (col("hops") + coalesce(col("__h2"), lit(0L))).as("hops")),
        Seq("src_h"), mParts)
      open = unresolved(m)
      round += 1
    }
    m.join(srcs, m("dst_h") === col("__s"), "left")
      .join(dict.select(col("h").as("__sh"), col("url").as("src")),
        col("src_h") === col("__sh"))
      .join(dict.select(col("h").as("__dh"), col("url").as("__durl")),
        col("dst_h") === col("__dh"))
      .select(col("src"),
        when(col("__s").isNull, col("__durl")).as("final_url"),
        when(col("__s").isNull, col("hops")).as("hops"),
        col("__s").isNotNull.as("looped"))
  }

  /**
   * Mark WARC *revisit* records — how real archives dedup refetches
   * (Common Crawl emits a `revisit` record with `WARC-Refers-To`
   * instead of re-storing a payload whose digest it already holds):
   * within a parsed record set, the FIRST capture of each payload
   * (smallest `(shard, rec_pos)` — a DETERMINISTIC order, not
   * necessarily fetch chronology: shard is whatever partition key the
   * caller rendered with, so a chronologically earlier capture in a
   * higher-numbered shard is flagged as the revisit; pass records
   * through a real fetch-timestamp sort upstream if the archive
   * carries one) is the original; every later capture is flagged
   * `is_revisit` with `refers_to` = the original's record id. Adds
   * the two columns.
   *
   * Scale shape: one narrow groupBy on the 8-byte `xxhash64(payload)`
   * key taking a min-struct (the exactKeepBest aggregate shape), then
   * an equi-join back on the same key — payload text never rides
   * either exchange (the hash-identity convention).
   */
  def markRevisits(parsed: DataFrame): DataFrame = {
    val keyed = parsed.withColumn("__pk", xxhash64(col("payload")))
    val firsts = keyed.groupBy("__pk")
      .agg(min(struct(col("shard"), col("rec_pos"), col("rec_id"))).as("__f"))
    keyed.join(firsts, "__pk")
      .withColumn("is_revisit",
        !(col("shard") === col("__f")("shard") &&
          col("rec_pos") === col("__f")("rec_pos")))
      .withColumn("refers_to",
        when(col("is_revisit"), col("__f")("rec_id")))
      .drop("__pk", "__f")
  }

  /**
   * Stateless redirect gate — the STREAMING twin of
   * [[resolveRedirects]] (pointer doubling is a batch shape; a
   * `readStream` of arriving pages can't iterate): broadcast the
   * bounded batch-resolved `(src → final)` map into a stream-static
   * equi-join on the 8-byte canonical-URL hash, the same posture as
   * the Bloom decontaminator and the robots rules gate. An arriving
   * page whose canonical URL is a redirect source adopts the chain's
   * final target as its crawl identity (`final_norm`,
   * `redirected = true`), so a stream dedups/counts against final
   * targets exactly as the batch pipeline does; a looped source keeps
   * its own URL and flags `looped`; everything else passes through.
   * Zero state, no watermark — the same plan gates a batch frame
   * identically (stream ≡ batch pinned in StreamingSpec).
   * `resolved`'s src/final_url must be canonical already (they come
   * from `normalizeUrl`-ed edges); the gate canonicalizes the
   * arriving side.
   */
  def gateRedirects(pages: DataFrame, resolved: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val map = broadcast(resolved.select(
      xxhash64(col("src")).as("__rh"),
      col("final_url").as("__final"), col("looped").as("__lp")))
    pages
      .withColumn("url_norm", Dedup.normalizeUrl(col(urlCol)))
      .join(map, xxhash64(col("url_norm")) === col("__rh"), "left")
      .withColumn("final_norm",
        when(coalesce(col("__lp"), lit(false)), col("url_norm"))
          .otherwise(coalesce(col("__final"), col("url_norm"))))
      .withColumn("redirected",
        coalesce(!col("__lp") && col("__final").isNotNull, lit(false)))
      .withColumn("looped", coalesce(col("__lp"), lit(false)))
      .drop("__rh", "__final", "__lp")
  }

  /**
   * Per-file ingest report off [[parseRecords]]: record count, payload
   * volume, length spread, and how many records survived intact — the
   * frame a crawl-ingest monitor alerts on. One narrow aggregate
   * (longs only; record text never shuffles).
   */
  def fileStats(parsed: DataFrame): DataFrame =
    parsed.groupBy("shard")
      .agg(count(lit(1)).as("n_records"),
        sum("content_length").as("payload_chars"),
        min("content_length").as("min_len"),
        max("content_length").as("max_len"),
        sum(when(col("intact"), 1L).otherwise(0L)).as("n_intact"))
}
