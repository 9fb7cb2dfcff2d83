package graft.queries

import graft.catalog.TestTables
import graft.functions.TimeFunctions
import org.apache.spark.sql.functions._

/** Streaming and format queries: structured streaming operators, wire
  * and container-file codecs, and multimodal media decoding.
  */
private[graft] object StreamQueries {
  val entries: Seq[Entry] = Seq(
    // Multimodal: binary media column + metadata + batched feature
    // extraction plumbing over NON-image payloads (text bytes) — the real
    // ImageIO kernel must pass them through as zero embeddings without
    // failing. Oracle checks doc_id + byte length; the filter on the
    // feature width makes a broken kernel visible as a row-count mismatch.
    // The decode itself is verified pixel-exactly by q50_image_decode.
    Entry("q31_multimodal", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .withColumn("media", col("text").cast("binary"))
      val withMeta = graft.ops.Multimodal.withMediaMeta(docs, "media", "image/fake")
      graft.ops.Multimodal.extractFeatures(withMeta, "media", dim = 8)
        .filter(size(col("media_features")) === 8)
        .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"))
    }, by("doc_id"),
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes
         FROM documents ORDER BY doc_id"""),

    // §2.12 structured streaming: file source → watermark → tumbling
    // window agg → memory sink, driven to completion in-batch.
    Entry("q34_stream_agg", (s, dir) => {
      val batch = s.read.parquet(TestTables.parquet(dir, "events"))
      // glob path: the file streaming source needs a directory or glob
      val stream0 = graft.streaming.Streaming.readStream(
          s, "parquet", Some(s"$dir/events.*"),
          schema = Some(batch.schema))
      val stream = stream0
        .withColumn("ts2", TimeFunctions.eventTimeToTimestamp(stream0, "ts"))
      val agg = graft.streaming.Streaming.windowedAgg(
        stream, "ts2", "1 day", "1 hour", "event_type", "value")
      graft.streaming.Streaming.runToMemory(agg, "q34_sink_", "complete",
        statePartitions = Some(8))
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n"), round(col("total"), 2).as("total"))
    }, by("w_start_us", "event_type"),
      """SELECT epoch_us(time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)))
                  AS w_start_us,
                event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY w_start_us, event_type"""),

    // §2.3/§2.9 ingest shaping: sanitize → Kafka wire encode (key = sorted
    // PK concat, value = row JSON) → decode roundtrip.
    Entry("q38_wire_roundtrip", (s, dir) => {
      import graft.ops.SchemaOps
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
      val wire = SchemaOps.toKafkaWire(SchemaOps.sanitizeNames(docs),
        primaryKey = Seq("doc_id"), headers = Map("source" -> "graft"))
      SchemaOps.fromKafkaWire(wire, docs.schema)
        .select("doc_id", "lang", "n_chars")
    }, by("doc_id"),
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"),

    // §2.12 stateful streaming: gap-based sessionization via
    // flatMapGroupsWithState + event-time timeout, driven to completion
    // with AvailableNow. Sessions still open at end-of-stream (watermark
    // never passed last+gap) stay in state — the oracle excludes each
    // key's trailing session under the same rule.
    Entry("q48_sessionization", (s, dir) => {
      val batch = s.read.parquet(TestTables.parquet(dir, "events"))
      val stream0 = graft.streaming.Streaming.readStream(
          s, "parquet", Some(s"$dir/events.*"),
          schema = Some(batch.schema))
      val stream = stream0
        .withColumn("ts2", TimeFunctions.eventTimeToTimestamp(stream0, "ts"))
      val sessions = graft.streaming.Streaming.sessionize(
        stream, "user_id", "ts2", "value",
        gapMillis = 6L * 3600 * 1000, watermark = "0 seconds")
      graft.streaming.Streaming.runToMemory(sessions.toDF, "q48_sink_",
        "append", statePartitions = Some(8))
        .select(col("key"),
          col("sessionStart").as("session_start"),
          col("sessionEnd").as("session_end"),
          col("nEvents").as("n_events"),
          round(col("total"), 2).as("total"))
    }, by("key", "session_start"),
      """WITH ev AS (
           SELECT CAST(user_id AS VARCHAR) AS k,
                  epoch_ms(CAST(ts AS TIMESTAMP)) AS t, value AS v
           FROM events),
         mx AS (SELECT max(t) AS maxt FROM ev),
         lagged AS (
           SELECT k, t, v,
                  CASE WHEN lag(t) OVER (PARTITION BY k ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY k ORDER BY t)
                            >= 21600000
                       THEN 1 ELSE 0 END AS ns
           FROM ev),
         sess AS (
           SELECT k, t, v,
                  sum(ns) OVER (PARTITION BY k ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagged),
         agg AS (
           SELECT k, sid, min(t) AS session_start, max(t) AS session_end,
                  count(*) AS n_events, round(sum(v ORDER BY t), 2) AS total
           FROM sess GROUP BY k, sid)
         SELECT k AS key, session_start, session_end, n_events, total
         FROM agg, mx
         WHERE NOT (sid = (SELECT max(sid) FROM agg a2 WHERE a2.k = agg.k)
                    AND session_end + 21600000 >= maxt)
         ORDER BY key, session_start"""),

    // Multimodal REAL decode: planted PNGs (pixel channels are a closed
    // form of (doc_id, x, y) — Multimodal.plantedPng) are encoded, then
    // decoded back through the actual javax.imageio kernel. The oracle
    // recomputes the per-image channel sums and luminance histogram from
    // the closed form alone — any decode defect breaks the integer match.
    Entry("q50_image_decode", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select("doc_id")
      val withPng = graft.ops.Multimodal.withPlantedPng(docs, "doc_id", "img")
      graft.ops.Multimodal.extractImageStats(withPng, "img")
        .select(col("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("lum_h0"), col("lum_h1"), col("lum_h2"), col("lum_h3"))
    }, by("doc_id"),
      // independent reconstruction of the planted pixels from the closed
      // form in Multimodal.plantedPng — no image codec involved, so a match
      // proves the real ImageIO decode recovered every pixel exactly
      """WITH dims AS (
           SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h
           FROM documents),
         xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
         px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         vals AS (
           SELECT doc_id, w, h,
                  (doc_id + 7*x + 13*y) % 256 AS r,
                  (3*doc_id + 5*x + 11*y) % 256 AS g,
                  (5*doc_id + 3*x + 17*y) % 256 AS b
           FROM px),
         lums AS (
           SELECT *, (299*r + 587*g + 114*b) // 1000 AS l FROM vals)
         SELECT doc_id,
                CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(g) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(sum(CASE WHEN l < 64 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h0,
                CAST(sum(CASE WHEN l >= 64 AND l < 128 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h1,
                CAST(sum(CASE WHEN l >= 128 AND l < 192 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h2,
                CAST(sum(CASE WHEN l >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h3
         FROM lums GROUP BY doc_id ORDER BY doc_id"""),

    // §2.12 sessionization via Spark's NATIVE session_window operator —
    // the declarative fast path; must emit exactly what the custom-state
    // q48 path emits (same gap + watermark rules), checked against the
    // SAME SQL oracle.
    Entry("q52_session_window", (s, dir) => {
      val batch = s.read.parquet(TestTables.parquet(dir, "events"))
      val stream0 = graft.streaming.Streaming.readStream(
          s, "parquet", Some(s"$dir/events.*"),
          schema = Some(batch.schema))
      val stream = stream0
        .withColumn("ts2", TimeFunctions.eventTimeToTimestamp(stream0, "ts"))
      val sessions = graft.streaming.Streaming.sessionizeNative(
        stream, "user_id", "ts2", "value",
        gapMillis = 6L * 3600 * 1000, watermark = "0 seconds")
      graft.streaming.Streaming.runToMemory(sessions, "q52_sink_", "append",
        statePartitions = Some(8))
        .select(col("key"),
          col("sessionStart").as("session_start"),
          col("sessionEnd").as("session_end"),
          col("nEvents").as("n_events"),
          round(col("total"), 2).as("total"))
    }, by("key", "session_start"),
      // identical oracle to q48: the native session_window path must emit
      // exactly the custom-state path's sessions
      """WITH ev AS (
           SELECT CAST(user_id AS VARCHAR) AS k,
                  epoch_ms(CAST(ts AS TIMESTAMP)) AS t, value AS v
           FROM events),
         mx AS (SELECT max(t) AS maxt FROM ev),
         lagged AS (
           SELECT k, t, v,
                  CASE WHEN lag(t) OVER (PARTITION BY k ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY k ORDER BY t)
                            >= 21600000
                       THEN 1 ELSE 0 END AS ns
           FROM ev),
         sess AS (
           SELECT k, t, v,
                  sum(ns) OVER (PARTITION BY k ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagged),
         agg AS (
           SELECT k, sid, min(t) AS session_start, max(t) AS session_end,
                  count(*) AS n_events, round(sum(v ORDER BY t), 2) AS total
           FROM sess GROUP BY k, sid)
         SELECT k AS key, session_start, session_end, n_events, total
         FROM agg, mx
         WHERE NOT (sid = (SELECT max(sid) FROM agg a2 WHERE a2.k = agg.k)
                    AND session_end + 21600000 >= maxt)
         ORDER BY key, session_start"""),

    // §2.12 streaming dedup vs the ALREADY-STORED corpus: documents
    // arrive as a stream, rows whose content fingerprint exists in the
    // historical fingerprint set (docs < 250 here) are dropped by the
    // per-micro-batch stream-static anti-join. Oracle replays the same
    // char-poly fingerprint and a null-safe anti-join in SQL.
    Entry("q73_stream_dedup_history", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
      val history = docs.filter(col("doc_id") < 250)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      val stream = graft.streaming.Streaming.readStream(
        s, "parquet", Some(s"$dir/documents.*"), schema = Some(docs.schema))
      val fresh = graft.streaming.Streaming.dedupAgainstHistory(
        stream, graft.ops.TextAnalysis.fingerprint(col("text")), history)
      graft.streaming.Streaming
        .runToMemory(fresh.select("doc_id", "lang"), "q73_sink_", "append",
          statePartitions = Some(8))
    }, by("doc_id"),
      // same char-poly fingerprint as q30; NOT EXISTS (not NOT IN) so a
      // null fingerprint keeps the row exactly like Spark's left_anti
      """WITH f AS (SELECT doc_id, lang,
             list_reduce(
               [0::BIGINT] || list_transform(
                 range(1, length(s) + 1), i -> unicode(s[i])::BIGINT),
               (a, c) -> (a * 31 + c) & ((1::BIGINT << 52) - 1)) AS fp
           FROM (SELECT doc_id, lang,
                   array_to_string(
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> len(x) > 0), ' ') AS s
                 FROM documents))
         SELECT doc_id, lang FROM f
         WHERE NOT EXISTS (SELECT 1 FROM f h
                           WHERE h.doc_id < 250 AND h.fp = f.fp)
         ORDER BY doc_id"""),

    // Multimodal RESIZE through the real ImageIO kernel: planted PNGs
    // (closed-form pixels) are decoded, nearest-neighbor-resampled with
    // the explicit (dst*srcDim) div dstDim mapping, re-encoded, and
    // decoded AGAIN for stats — the oracle recomputes every resized
    // pixel from the closed form alone, so a defect in either decode,
    // the resample arithmetic, or the re-encode breaks the integer match.
    Entry("q94_image_resize", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select("doc_id")
      val withPng = graft.ops.Multimodal.withPlantedPng(docs, "doc_id", "img")
      val resized = graft.ops.Multimodal
        .resizeImage(withPng, "img", "img_rs", 6, 5)
      graft.ops.Multimodal.extractImageStats(resized.drop("img"), "img_rs")
        .select(col("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("lum_h0"), col("lum_h1"), col("lum_h2"), col("lum_h3"))
    }, by("doc_id"),
      // q50's closed form evaluated at the nearest-neighbor source
      // coordinates (x*w) div 6, (y*h) div 5 of the 6x5 target grid — no
      // codec anywhere in the oracle
      """WITH dims AS (
           SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h
           FROM documents),
         xs AS (SELECT doc_id, w, h, unnest(range(0, 6)) AS x FROM dims),
         px AS (SELECT doc_id, w, h, x, unnest(range(0, 5)) AS y FROM xs),
         src AS (SELECT doc_id, (x * w) // 6 AS sx, (y * h) // 5 AS sy
                 FROM px),
         vals AS (
           SELECT doc_id,
                  (doc_id + 7*sx + 13*sy) % 256 AS r,
                  (3*doc_id + 5*sx + 11*sy) % 256 AS g,
                  (5*doc_id + 3*sx + 17*sy) % 256 AS b
           FROM src),
         lums AS (
           SELECT *, (299*r + 587*g + 114*b) // 1000 AS l FROM vals)
         SELECT doc_id,
                CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(g) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(sum(CASE WHEN l < 64 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h0,
                CAST(sum(CASE WHEN l >= 64 AND l < 128 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h1,
                CAST(sum(CASE WHEN l >= 128 AND l < 192 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h2,
                CAST(sum(CASE WHEN l >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS lum_h3
         FROM lums GROUP BY doc_id ORDER BY doc_id"""),

    // Audio through the real RIFF/WAVE parser: planted closed-form PCM
    // (sample i of doc d = ((d·31+i·7) mod 4096) − 2048) is byte-encoded
    // as a 16-bit mono WAV, re-parsed by the container walk, and framed
    // into 25-sample windows with integer-exact energy/magnitude/zero-
    // crossing features — the oracle recomputes every frame from the
    // closed form with no audio code anywhere.
    Entry("q96_audio_frames", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select("doc_id")
      val withWav = graft.ops.Multimodal.withPlantedWav(docs, "doc_id", "wav")
      graft.ops.Multimodal.audioFrameFeatures(withWav, "wav", 25)
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("frame_idx"), col("frame_sum_sq"), col("frame_sum_abs"),
          col("frame_zc"))
    }, by("doc_id", "frame_idx"),
      // every frame recomputed from the planted closed form — no WAV bytes,
      // no parser, just the sample formula and the same 25-sample framing
      """WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
         fr AS (SELECT doc_id, n, unnest(range(0, n // 25)) AS f FROM d),
         ix AS (SELECT doc_id, n, f,
                       unnest(range(f * 25, f * 25 + 25)) AS i
                FROM fr),
         sv AS (SELECT doc_id, n, f, i,
                       ((doc_id * 31 + i * 7) % 4096) - 2048 AS s
                FROM ix),
         sp AS (SELECT doc_id, n, f, i, s,
                       lag(s) OVER (PARTITION BY doc_id, f ORDER BY i) AS p
                FROM sv)
         SELECT doc_id,
                CAST(8000 AS INT) AS sample_rate,
                CAST(n AS BIGINT) AS n_samples,
                CAST(f AS INT) AS frame_idx,
                CAST(sum(s * s) AS BIGINT) AS frame_sum_sq,
                CAST(sum(abs(s)) AS BIGINT) AS frame_sum_abs,
                CAST(sum(CASE WHEN p IS NOT NULL AND ((p < 0) <> (s < 0))
                              THEN 1 ELSE 0 END) AS BIGINT) AS frame_zc
         FROM sp GROUP BY doc_id, n, f
         ORDER BY doc_id, frame_idx"""),

    // Perceptual average-hash image dedup: doc_id mod 37 picks the planted
    // image, so distinct documents carry pixel-identical payloads — the
    // aHash (real decode → 8×8 nearest-neighbor resample → integer
    // grayscale → at-or-above-mean bits) must collide EXACTLY for them,
    // and the dup-group sizes fall out of a two-long groupBy. The oracle
    // recomputes every bit from the planted closed form with no codec.
    Entry("q97_image_ahash", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select(col("doc_id"), pmod(col("doc_id"), lit(37)).as("_img"))
      val withPng = graft.ops.Multimodal.withPlantedPng(docs, "_img", "png")
      val hashed = graft.ops.Multimodal.averageHash(withPng, "png", "ahash")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ahash_hi", "ahash_lo")
      hashed.select(col("doc_id"), col("ahash_hi"), col("ahash_lo"),
          count(lit(1)).over(w).cast("long").as("n_dups"))
    }, by("doc_id"),
      // every aHash bit recomputed from the planted pixel closed form: the
      // 8×8 nearest-neighbor source indices, the integer grayscale, and the
      // exact-integer at-or-above-mean rule (gray·64 ≥ Σgray)
      """WITH ids AS (SELECT doc_id, doc_id % 37 AS img FROM documents),
         cell AS (
           SELECT doc_id, img, t.i AS i,
                  ((t.i % 8) * (4 + img % 5)) // 8 AS sx,
                  ((t.i // 8) * (4 + img % 3)) // 8 AS sy
           FROM ids, unnest(range(0, 64)) AS t(i)),
         g AS (
           SELECT doc_id, i,
                  (CAST((img + 7*sx + 13*sy) % 256 AS BIGINT)
                   + (3*img + 5*sx + 11*sy) % 256
                   + (5*img + 3*sx + 17*sy) % 256) // 3 AS gray
           FROM cell),
         sgr AS (
           SELECT doc_id, i, gray,
                  sum(gray) OVER (PARTITION BY doc_id) AS sg
           FROM g),
         h AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN i >= 32 AND gray * 64 >= sg
                           THEN 1::BIGINT << (i - 32) ELSE 0 END) AS BIGINT)
                    AS ahash_hi,
                  CAST(sum(CASE WHEN i < 32 AND gray * 64 >= sg
                           THEN 1::BIGINT << i ELSE 0 END) AS BIGINT)
                    AS ahash_lo
           FROM sgr GROUP BY doc_id)
         SELECT doc_id, ahash_hi, ahash_lo,
                CAST(count(*) OVER (PARTITION BY ahash_hi, ahash_lo)
                     AS BIGINT) AS n_dups
         FROM h ORDER BY doc_id""",
      scale = Seq(AsIs)),

    // Binary-Avro Kafka wire: encode (key = avro string of the PK
    // concat, value = nullable-union record), measure the exact wire
    // byte lengths, decode back. The oracle replays the BYTE LAYOUT —
    // zigzag varint widths, union branch bytes, IEEE-754 width, UTF-8
    // string framing — in SQL arithmetic, so parity proves the encoding
    // structure, not just the content round trip.
    Entry("q114_avro_wire", (s, dir) => {
      val ev = s.read.parquet(TestTables.parquet(dir, "events"))
      val base = ev.select(col("event_id"), col("user_id"), col("value"),
        when(col("event_type") === "click", lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"))
      val wired = graft.functions.AvroCodec.toAvroWire(base, Seq("event_id"))
        .select(col("value"),
          length(col("key")).cast("long").as("key_len"),
          length(col("value")).cast("long").as("value_len"))
      graft.functions.AvroCodec.fromAvroWire(wired, base.schema,
          keepCols = Seq("key_len", "value_len"))
        .select(col("event_id"), col("key_len"), col("value_len"),
          col("user_id"), col("value"), col("etype"))
    }, by("event_id"),
      // the binary-Avro byte layout in SQL: per nullable-union field one
      // branch byte + (null: nothing | long: zigzag varint width | double:
      // 8 | string: length-varint + UTF-8 bytes); key = the PK concat
      // under the nullable union ["null","string"] (branch byte + length
      // varint + UTF-8 bytes — the schema to_avro infers from a nullable
      // concat column)
      """WITH e AS (
           SELECT event_id, user_id, value,
                  CASE WHEN event_type = 'click' THEN NULL
                       ELSE event_type END AS etype
           FROM events),
         z AS (
           SELECT *,
             CASE WHEN event_id >= 0 THEN 2 * event_id
                  ELSE -2 * event_id - 1 END AS z1,
             CASE WHEN user_id >= 0 THEN 2 * user_id
                  ELSE -2 * user_id - 1 END AS z2,
             strlen(CAST(event_id AS VARCHAR)) AS klen,
             CASE WHEN etype IS NULL THEN NULL
                  ELSE strlen(etype) END AS slen
           FROM e)
         SELECT event_id,
           CAST(1 + CASE WHEN 2 * klen < 128 THEN 1 ELSE 2 END + klen
                AS BIGINT) AS key_len,
           CAST(
             1 + CASE WHEN z1 < 128 THEN 1 WHEN z1 < 16384 THEN 2
                      WHEN z1 < 2097152 THEN 3 WHEN z1 < 268435456 THEN 4
                      WHEN z1 < 34359738368 THEN 5
                      WHEN z1 < 4398046511104 THEN 6
                      WHEN z1 < 562949953421312 THEN 7
                      WHEN z1 < 72057594037927936 THEN 8 ELSE 9 END
             + 1 + CASE WHEN z2 < 128 THEN 1 WHEN z2 < 16384 THEN 2
                      WHEN z2 < 2097152 THEN 3 WHEN z2 < 268435456 THEN 4
                      WHEN z2 < 34359738368 THEN 5
                      WHEN z2 < 4398046511104 THEN 6
                      WHEN z2 < 562949953421312 THEN 7
                      WHEN z2 < 72057594037927936 THEN 8 ELSE 9 END
             + CASE WHEN value IS NULL THEN 1 ELSE 9 END
             + CASE WHEN slen IS NULL THEN 1
                    WHEN 2 * slen < 128 THEN 2 + slen
                    ELSE 3 + slen END AS BIGINT) AS value_len,
           user_id, value, etype
         FROM z ORDER BY event_id""",
      scale = Seq(AsIs)),

    // Avro CONTAINER-FILE training-dataset round trip: distributed write
    // of real Object Container Files (core Avro runtime through the
    // engine's own `avro` file source, no spark-avro jar), read back via
    // the schema embedded in the container header.
    // The oracle is the plain projection — parity proves the container
    // write/read is lossless end to end under the driver's hash gate.
    // `price` rides the r10 logical-decimal path (bytes + decimal
    // annotation, byte layout hand-proven in AvroCodecSpec). The column
    // travels write→read as DECIMAL(12,2) — the round trip under test —
    // but the FINAL projection casts it to DOUBLE: DECIMAL dtypes split
    // representations between the driver harness's two read paths
    // (Decimal('471.00') vs 471.0) and fail hash_match on
    // value-identical outputs (r10 verdict repro). Rule: no
    // DECIMAL-typed column in a driver-hashed projection.
    Entry("q115_avro_td", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("n_chars") / 7.0, 3).as("score"),
          (col("n_chars") * lit(3)).cast("decimal(12,2)").as("price"))
      val path = scratch(dir, "q115_avro_td") + "/td"
      docs.write.format("avro").mode("overwrite").save(path)
      s.read.format("avro").load(path)
        .withColumn("price", col("price").cast("double"))
    }, by("doc_id"),
      // the avro container round trip is lossless, so the oracle is the
      // projection itself (price: the r10 logical-decimal column; final
      // cast to DOUBLE on both sides — DECIMAL dtypes diverge at the
      // driver hash boundary even when values are identical)
      """SELECT doc_id, lang, n_chars, round(n_chars / 7.0, 3) AS score,
                CAST(n_chars * 3 AS DECIMAL(12,2))::DOUBLE AS price
         FROM documents ORDER BY doc_id""",
      scale = Seq(AsIs)),

    // TFRecord training-dataset round trip: hand-built tf.train.Example
    // protobuf + CRC32C framing (no connector jar), schema re-declared
    // at read like the reference's connector requires. score is chosen
    // float32-exact (eighths of a small integer), so the float_list
    // narrowing is lossless and the oracle is the plain projection.
    Entry("q116_tfrecord_td", (s, dir) => {
      val docs = s.read.parquet(TestTables.parquet(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") / 8.0).as("score"))
      val path = scratch(dir, "q116_tfrecord_td") + "/td"
      docs.write.format("tfrecord").mode("overwrite").save(path)
      s.read.format("tfrecord").schema(docs.schema).load(path)
    }, by("doc_id"),
      // float32-exact values → the tfrecord round trip is lossless too
      """SELECT doc_id, lang, n_chars, n_chars / 8.0 AS score
         FROM documents ORDER BY doc_id""",
      scale = Seq(AsIs)),

    // Stream-stream interval join: every click enriched with the same
    // user's views from the trailing hour, as a CONTINUOUS join — the
    // range condition is what lets Structured Streaming expire join
    // state (each side buffers watermark + lookback, rate-bounded, not
    // stream-length-bounded). Self-join of one file stream split into
    // two sides; driven to completion and compared against the batch
    // join the oracle runs.
    Entry("q125_stream_interval_join", (s, dir) => {
      val batch = s.read.parquet(TestTables.parquet(dir, "events"))
      val stream0 = graft.streaming.Streaming.readStream(
        s, "parquet", Some(s"$dir/events.*"), schema = Some(batch.schema))
      val stream = stream0.withColumn("ts2",
        TimeFunctions.eventTimeToTimestamp(stream0, "ts"))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts2").as("click_ts"))
      val views = stream.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          col("user_id").as("v_user_id"), col("ts2").as("view_ts"))
      val j = graft.streaming.Streaming.intervalJoin(
        clicks, "click_ts", "1 day", views, "view_ts", "1 day",
        Seq("user_id"), Seq("v_user_id"), lookback = "1 HOUR")
      val out = j.select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        col("view_id"), unix_micros(col("view_ts")).as("view_ts_us"))
      graft.streaming.Streaming.runToMemory(out, "q125_sink_", "append",
        statePartitions = Some(8))
    }, by("click_id", "view_id"),
      // the streaming interval join's batch equivalent: same keys, same
      // [t − 1h, t] range, inner semantics (null keys/times never match
      // on either engine)
      """WITH c AS (
           SELECT event_id AS click_id, user_id, ts FROM events
           WHERE event_type = 'click'),
         v AS (
           SELECT event_id AS view_id, user_id, ts FROM events
           WHERE event_type = 'view')
         SELECT c.click_id, c.user_id, epoch_us(c.ts) AS click_ts_us,
                v.view_id, epoch_us(v.ts) AS view_ts_us
         FROM c JOIN v
           ON c.user_id = v.user_id
          AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts
         ORDER BY click_id, view_id"""),

    // Kafka v2 record-batch framing around binary-Avro payloads — the
    // PRODUCE-side bytes the connector would put on the wire (the jar
    // is absent; the wire format is public). One batch per record with
    // the row carried through, and the oracle replays the ENTIRE byte
    // stack in SQL: avro zigzag/union/IEEE widths (q114's arithmetic)
    // for key and value, then the record framing (attrs + deltas +
    // length varints + headers count) and the 61-byte batch header.
    Entry("q143_kafka_wire", (s, dir) => {
      val ev = s.read.parquet(TestTables.parquet(dir, "events"))
      val base = ev.select(col("event_id"), col("user_id"), col("value"),
        when(col("event_type") === "click", lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"))
      val wire = graft.functions.AvroCodec.toAvroWire(base, Seq("event_id"),
        keepCols = Seq("event_id"))
      graft.functions.KafkaWire.perRecordBatches(wire, keep = Seq("event_id"))
    }, by("event_id"),
      // the whole byte stack in SQL: q114's avro arithmetic for the key
      // (union branch + length varint + utf8) and value (per-field union
      // branch + zigzag/IEEE widths), then the v2 record framing — attrs
      // 1 + tsDelta 1 + offsetDelta 1 + length varints + headersCount 1,
      // the record's own length varint, and the 61-byte batch header.
      // W(n) = zigzag varint width of a non-negative n (1 below 64, 2
      // below 8192 — body lengths here straddle the 64 boundary, so both
      // branches are exercised)
      """WITH e AS (
           SELECT event_id, user_id, value,
                  CASE WHEN event_type = 'click' THEN NULL
                       ELSE event_type END AS etype
           FROM events),
         z AS (
           SELECT *,
             CASE WHEN event_id >= 0 THEN 2 * event_id
                  ELSE -2 * event_id - 1 END AS z1,
             CASE WHEN user_id >= 0 THEN 2 * user_id
                  ELSE -2 * user_id - 1 END AS z2,
             strlen(CAST(event_id AS VARCHAR)) AS klen,
             CASE WHEN etype IS NULL THEN NULL
                  ELSE strlen(etype) END AS slen
           FROM e),
         widths AS (
           SELECT event_id,
             1 + CASE WHEN 2 * klen < 128 THEN 1 ELSE 2 END + klen
               AS key_bytes,
             1 + CASE WHEN z1 < 128 THEN 1 WHEN z1 < 16384 THEN 2
                      WHEN z1 < 2097152 THEN 3 WHEN z1 < 268435456 THEN 4
                      WHEN z1 < 34359738368 THEN 5
                      WHEN z1 < 4398046511104 THEN 6
                      WHEN z1 < 562949953421312 THEN 7
                      WHEN z1 < 72057594037927936 THEN 8 ELSE 9 END
             + 1 + CASE WHEN z2 < 128 THEN 1 WHEN z2 < 16384 THEN 2
                      WHEN z2 < 2097152 THEN 3 WHEN z2 < 268435456 THEN 4
                      WHEN z2 < 34359738368 THEN 5
                      WHEN z2 < 4398046511104 THEN 6
                      WHEN z2 < 562949953421312 THEN 7
                      WHEN z2 < 72057594037927936 THEN 8 ELSE 9 END
             + CASE WHEN value IS NULL THEN 1 ELSE 9 END
             + CASE WHEN slen IS NULL THEN 1
                    WHEN 2 * slen < 128 THEN 2 + slen
                    ELSE 3 + slen END AS value_bytes
           FROM z),
         body AS (
           SELECT event_id,
             4 + CASE WHEN 2 * key_bytes < 128 THEN 1 ELSE 2 END
               + key_bytes
               + CASE WHEN 2 * value_bytes < 128 THEN 1 ELSE 2 END
               + value_bytes AS body_bytes
           FROM widths)
         SELECT event_id,
           CAST(61 + CASE WHEN 2 * body_bytes < 128 THEN 1 ELSE 2 END
                + body_bytes AS BIGINT) AS batch_len
         FROM body ORDER BY event_id""",
      scale = Seq(AsIs)),

    // FETCH-side consume round trip — the wire-symmetric half of q143:
    // rows → binary-Avro wire triples → multi-record v2 batches (the
    // PRODUCE bytes) → fromBatches (CRC32C-verified parse back to
    // consumer records, torn batches rejected) → Avro decode. Every
    // byte layer is crossed in BOTH directions; the oracle is the plain
    // projection — parity proves the produce→fetch stack is lossless.
    // Headers and the null union branch (etype on clicks) ride through
    // the record framing.
    Entry("q154_kafka_consume", (s, dir) => {
      val ev = s.read.parquet(TestTables.parquet(dir, "events"))
      val base = ev.select(col("event_id"), col("user_id"), col("value"),
        when(col("event_type") === "click", lit(null).cast("string"))
          .otherwise(col("event_type")).as("etype"))
      val wire = graft.functions.AvroCodec.toAvroWire(base, Seq("event_id"),
        headers = Map("subject" -> "events_v1"))
      val batches = graft.functions.KafkaWire.toBatches(wire,
        recordsPerBatch = 64, timestamp = 42L)
      val consumed = graft.functions.KafkaWire.fromBatches(batches)
      graft.functions.AvroCodec.fromAvroWire(consumed, base.schema)
    }, by("event_id"),
      // the produce→fetch byte stack (avro encode → v2 batch framing →
      // CRC-verified parse → avro decode) is lossless, so the oracle is
      // the plain projection (q114/q115 pattern); the byte widths are
      // oracled in q143 and the framing golden bytes in KafkaWireSpec
      """SELECT event_id, user_id, value,
                CASE WHEN event_type = 'click' THEN NULL
                     ELSE event_type END AS etype
         FROM events ORDER BY event_id""")
  )
}
