package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.{Codecs, Multimodal}

/** Text-analysis pipeline operators over `documents` — the LLM-training-
  * data surface (token counting, quality scoring, language ID,
  * fingerprinting). Everything is a higher-order Column function over the
  * token array (`transform`/`filter`/`aggregate`) — no UDFs, no explode
  * unless the op is genuinely row-generating, so the whole stage stays in
  * whole-stage codegen and scales as a pure map over the corpus.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Q.documents(s, dir)

  /** doc_seq_pack_ffd parameters, shared by the Spark operator call and
    * the generated oracle so the two cannot drift.
    */
  private val FfdCap = 512
  private val FfdRing = 4

  /** doc_maximal_spans parameters (shared Spark ↔ oracle): emit maximal
    * repeated spans of >= MaxSpanMin tokens; suffix windows (and with
    * them reported span lengths) cap at MaxSpanCap.
    */
  private val MaxSpanMin = 8
  private val MaxSpanCap = 64
  // unigram-LM trainer constants (doc_unigram_train/_encode); shared with
  // the oracle generators so Scala and SQL cannot drift
  private val UnigramP = graft.operators.UnigramLM.Params()

  /** Capped token-hash LCP of two list expressions in DuckDB — the SQL
    * twin of [[graft.operators.MaximalSpans]]'s neighbor scan: first
    * mismatch index − 1, or the full common capped length when one list
    * prefixes the other; 0 against the missing neighbor at the corpus
    * sort boundary.
    */
  private def lcpSql(a: String, b: String): String =
    s"""CASE WHEN $b IS NULL THEN 0 ELSE
       coalesce(list_filter(range(1, least(len($a), len($b)) + 1),
                  (j) -> $a[j] IS DISTINCT FROM $b[j])[1],
                least(len($a), len($b)) + 1)::int - 1 END"""

  /** Shared CTE chain (tok → h → pos → rep → cand → srt → lr) replaying
    * [[graft.operators.MaximalSpans.lrsFrame]] in DuckDB: same 60-bit
    * token alphabet, same candidate filter, one global capped-suffix
    * sort with neighbor LCPs. Consumed by both maximal-span oracles.
    */
  private def maximalLrsCtes: String = {
    val L = MaxSpanMin; val cap = MaxSpanCap
    s"""WITH tok AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       h AS (
         SELECT doc_id, [${Q.hash60Sql("x")} for x in t] AS h0
         FROM tok WHERE len(t) >= $L),
       pos AS (
         SELECT doc_id,
           unnest(range(1, greatest(len(h0) - ${L - 2}, 1))) AS i,
           unnest([h0[i : i + ${L - 1}]
             for i in range(1, greatest(len(h0) - ${L - 2}, 1))]) AS p8
         FROM h),
       rep AS (SELECT p8 FROM pos GROUP BY p8 HAVING count(*) >= 2),
       cand AS (
         SELECT p.doc_id, p.i, hh.h0[p.i : p.i + ${cap - 1}] AS w
         FROM pos p JOIN rep USING (p8) JOIN h hh USING (doc_id)),
       srt AS (
         SELECT doc_id, i, w,
           lag(w) OVER (ORDER BY w) AS pw,
           lead(w) OVER (ORDER BY w) AS nw
         FROM cand),
       lr AS (
         SELECT doc_id, i,
           greatest(${lcpSql("w", "pw")}, ${lcpSql("w", "nw")}) AS lrs
         FROM srt)"""
  }

  /** DuckDB replay of [[graft.operators.MaximalSpans.spans]]: the shared
    * lrs chain plus the capped left-maximality rule.
    */
  private def maximalSpansSql: String = {
    val L = MaxSpanMin; val cap = MaxSpanCap
    s"""$maximalLrsCtes,
       fin AS (
         SELECT doc_id, i, lrs,
           lag(i) OVER wd AS pi, lag(lrs) OVER wd AS pl
         FROM lr WHERE lrs >= $L
         WINDOW wd AS (PARTITION BY doc_id ORDER BY i))
       SELECT doc_id, i::bigint AS start, lrs::bigint AS len
       FROM fin
       WHERE pi IS NULL OR pi <> i - 1 OR pl < least(lrs + 1, $cap)
       ORDER BY doc_id, start"""
  }

  /** DuckDB replay of [[graft.operators.MaximalSpans.cut]]: the shared
    * lrs chain plus the variable-length interval union (running max end
    * per doc).
    */
  private def maximalCutSql: String = {
    val L = MaxSpanMin
    s"""$maximalLrsCtes,
       fil AS (SELECT doc_id, i, lrs FROM lr WHERE lrs >= $L),
       cov AS (
         SELECT doc_id, i, lrs,
           max(i + lrs) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
         FROM fil)
       SELECT doc_id, count(*) AS n_pos,
         sum(greatest(0, i + lrs - greatest(i, coalesce(pe, i))))::bigint
           AS n_tokens_cut
       FROM cov GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Unrolled DuckDB replay of
    * [[graft.operators.Packing.firstFitDecreasingSharded]] over the
    * document corpus (the generic state machine lives in
    * [[Q.ffdStepCtes]]).
    */
  private def ffdPackSql(k: Int, cap: Int, shard: Option[Int] = None): String = {
    val filt = shard.map(sh => s" WHERE shard = $sh").getOrElse("")
    s"""WITH RECURSIVE it0 AS (
               SELECT * FROM (
                 SELECT ${Q.hash60Sql("'pack|' || doc_id")} % 32 AS shard,
                        doc_id AS id, len(string_split(text, ' '))::bigint AS len
                 FROM documents) t0$filt),
             ${Q.ffdStepCtes(k, cap)}
             SELECT shard, bin, count(*)::bigint AS n_docs,
               sum(len)::bigint AS n_tokens,
               ${Q.hash60Sql("string_agg(start::varchar, ' ' ORDER BY start)")} AS bounds_fp,
               sum(len::bigint * (len - 1) // 2)::bigint AS pos_sum
             FROM placed GROUP BY shard, bin ORDER BY shard, bin"""
  }

  /** DuckDB replay of next-fit packing (the doc_seq_pack/stream_seq_pack
    * recursive step machine), parameterized by the within-shard order
    * (len-desc for NFD, id for arrival-order streaming) and an optional
    * single-shard restriction. The shard restriction exists for the
    * 100×-equivalent spot gate (VERDICT r12 #2): the recursion's DEPTH —
    * the scale-critical dimension, items per shard — is unchanged (the
    * 32-way shard hash is uniform), while the oracle replays 1 chain
    * instead of 32, keeping the DuckDB leg's run time inside a round.
    *
    * `it` is AS MATERIALIZED: the recursive term references it once PER
    * ITERATION, and un-hinted DuckDB inlines the whole upstream chain —
    * re-scanning documents and re-hashing every doc id each of the
    * ~depth iterations (the md5 work × 15k steps is what let the r12
    * full-corpus oracle legs grind for hours at 100×).
    */
  private def nfdPackSql(order: String, shard: Option[Int] = None): String = {
    val filt = shard.map(sh => s" WHERE shard = $sh").getOrElse("")
    s"""WITH RECURSIVE it0 AS (
               SELECT * FROM (
                 SELECT ${Q.hash60Sql("'pack|' || doc_id")} % 32 AS shard,
                        doc_id AS id, len(string_split(text, ' ')) AS len
                 FROM documents) t0$filt),
             it AS MATERIALIZED (
               SELECT shard, id, len,
                 row_number() OVER (PARTITION BY shard ORDER BY $order) AS rn
               FROM it0 WHERE len <= 512),
             step(shard, rn, bin, fill) AS (
               SELECT shard, 1::bigint, 0::bigint, len::bigint
               FROM it WHERE rn = 1
               UNION ALL
               SELECT i.shard, i.rn::bigint,
                 CASE WHEN s.fill + i.len > 512 THEN s.bin + 1 ELSE s.bin END,
                 CASE WHEN s.fill + i.len > 512 THEN i.len::bigint
                      ELSE s.fill + i.len END
               FROM step s JOIN it i ON i.shard = s.shard AND i.rn = s.rn + 1),
             placed AS (
               SELECT st.shard, st.bin, i.id, i.len, st.fill - i.len AS start
               FROM step st JOIN it i ON i.shard = st.shard AND i.rn = st.rn)
             SELECT shard, bin, count(*)::bigint AS n_docs,
               sum(len)::bigint AS n_tokens,
               ${Q.hash60Sql("string_agg(start::varchar, ' ' ORDER BY start)")} AS bounds_fp,
               sum(len::bigint * (len - 1) // 2)::bigint AS pos_sum
             FROM placed GROUP BY shard, bin ORDER BY shard, bin"""
  }

  /** Per-JVM memoized media-blob fixtures (the StreamFixtures pattern,
    * VERDICT r2 "What's wrong" #2): synthetic clip GENERATION runs once
    * per (kind, dir) and lands in a temp parquet; the timed catalog
    * queries then read blobs and exercise only the operator under test
    * (demux, decode, fingerprint) — not fixture synthesis.
    */
  private object MediaFixtures {
    private val cache = scala.collection.concurrent.TrieMap[String, String]()

    def cached(s: SparkSession, dir: String, kind: String,
        wide: Boolean = true)(
        build: => Dataset[Multimodal.MediaRow]): Dataset[Multimodal.MediaRow] = {
      implicit val enc: Encoder[Multimodal.MediaRow] =
        Encoders.product[Multimodal.MediaRow]
      // synchronized: getOrElseUpdate may run the builder concurrently
      // and leak the losing thread's fixture dir (ADVICE r7 class)
      val p = cache.synchronized {
        cache.getOrElseUpdate(kind + "|" + dir, {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_media_${kind}_").toString + "/blobs"
          build.write.parquet(root)
          root
        })
      }
      // scanWide, batch side (`wide`): the fixture parquet is a single
      // ~MB file, so the scan is ONE split and a decode-heavy consumer
      // (ImageIO per image/frame) ran single-threaded regardless of
      // cores — parquet can't split below a row group, and the read-side
      // bin-packer (openCostInBytes) re-merges small files, so the only
      // way to fan the map side out is an explicit exchange. The shuffle
      // moves the fixture's few MB once; deployed, a blob store's many
      // objects give this partitioning for free and blobs still never
      // shuffle past the decode (every consumer reduces to ≤16 bytes/row
      // before its first key exchange). Audio opts OUT: its per-row work
      // is a header parse + one integer pass (measured cheaper than
      // shuffling the clips — 0.48 s narrow vs 1.05 s wide), the same
      // cost rule scanWide documents for the streaming side.
      val ds = s.read.schema(graft.core.Tables.cachedSchema(s, p))
        .parquet(p).as[Multimodal.MediaRow]
      if (wide) ds.repartition(s.sparkContext.defaultParallelism) else ds
    }

    /** Fixture parquet root for a kind already built via [[cached]] —
      * the file-stream source path for the ingest-time twins.
      */
    def rootOf(dir: String, kind: String): String = cache(kind + "|" + dir)
  }

  /** Deterministic synthetic PCM16 clip per doc, encoded as a genuine WAV
    * container ([[Codecs.pcmToWav]]): cohort-dependent chirp
    * (cohort = doc_id div 8 through the same bijective multiplicative
    * hash as the image fixture — near-dup clusters stay 8 docs at ANY
    * corpus size, pair counts linear, unlike the earlier id%32 key whose
    * clusters grew with the corpus) plus tiny doc-dependent noise, 2600
    * samples. The sample formula is integer-exact and shared verbatim
    * with the DuckDB oracle — PCM16 WAV is lossless, so decode∘encode is
    * identity and both engines see the same samples. Clips in the same
    * cohort differ only by the ±10 noise, so their frame energies (and
    * hence [[Codecs.audioFingerprint]]s) stay within a few Hamming bits.
    */
  private def audioClips(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] =
    MediaFixtures.cached(s, dir, "audio", wide = false)(
      audioClipsBuild(s, dir))

  /** Deterministic synthetic 16×16 GRAYSCALE PNG per doc (real
    * `javax.imageio` encode): cohort-dependent integer pattern
    * (cohort = doc_id div 8 — a BOUNDED near-dup cluster of 8 consecutive
    * ids) plus one doc-dependent single-pixel bump of ≤3 luma —
    * same-cohort images land within a few aHash Hamming bits. The cohort
    * key feeds a multiplicative hash mod a prime (bijective on cohort
    * ids) and each pixel SQUARES the mixed value before the final mod 17:
    * any affine-in-cohort formula makes a cohort difference a constant
    * shift across all pixels (mod-carry the only variation), so every
    * ~17th cohort collided in aHash space and pair counts grew
    * quadratically (measured: 11.6k pairs at 500 docs, 66M at 50k). The
    * square's cross-term makes the difference pixel-dependent — measured
    * pair counts are now exactly the within-cohort ideal (28·cohorts) and
    * grow linearly with the corpus like real crawl data (the sf1-gate
    * fixture finding). Grayscale makes Rec.601 luma the pixel value EXACTLY
    * ((299v+587v+114v)/1000 = v), and PNG is lossless, so the oracle
    * recomputes the hash straight from the pixel formula.
    */
  private def imageClips(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] =
    MediaFixtures.cached(s, dir, "image")(imageClipsBuild(s, dir))

  private def imageClipsBuild(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] = {
    implicit val enc: Encoder[Multimodal.MediaRow] = Encoders.product[Multimodal.MediaRow]
    docs(s, dir).select(col("doc_id").cast("long")).as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val m = (id / 8 * 2654435761L) % 2147483647L
          val nx = (id * 31 % 16).toInt
          val ny = (id * 17 % 16).toInt
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val z = (m + x * 131L + y * 8191L) % 65536L
              val v = ((z * z % 65521L % 17L) * 15 +
                (if (x == nx && y == ny) (id % 4) else 0L)).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Multimodal.MediaRow(id, bos.toByteArray,
            Multimodal.MediaMeta("image", 16, 16, 0, 1))
        }
      }
  }

  /** Oracle CTE recomputing [[Codecs.aHash]] in DuckDB straight from the
    * pixel formula (PNG round trip is lossless; grayscale ⇒ luma = v).
    * 16×16 into the 8×8 aHash grid gives 2×2-pixel cells (4 px each,
    * n = 256), so the exact bit decision sums(c)·n > total·cnts(c)
    * reduces to sv·64 > t. The 64-bit hash assembles as two 32-bit
    * halves folded to the signed Long Spark produces (the audioFpCte
    * convention).
    */
  private val imageFpCte: String = """WITH pz AS (
      SELECT doc_id AS id, x, y,
        ((doc_id // 8 * 2654435761) % 2147483647
           + x*131 + y*8191) % 65536 AS z
      FROM documents, range(16) tx(x), range(16) ty(y)),
    px AS (
      SELECT id, x, y,
        (z*z % 65521 % 17) * 15
          + CASE WHEN x = (id * 31) % 16 AND y = (id * 17) % 16
                 THEN id % 4 ELSE 0 END AS v
      FROM pz),
    cells AS (SELECT id, (y // 2) * 8 + (x // 2) AS c, sum(v)::bigint AS sv
              FROM px GROUP BY id, (y // 2) * 8 + (x // 2)),
    ct AS (SELECT id, list(sv ORDER BY c) AS cs, sum(sv)::bigint AS t
           FROM cells GROUP BY id),
    ph AS (
      SELECT id,
        (CASE WHEN hi >= 2147483648 THEN (hi - 4294967296)*4294967296 + lo
              ELSE hi*4294967296 + lo END)::bigint AS phash
      FROM (SELECT id,
        list_sum([CASE WHEN cs[b+1] * 64 > t THEN (1::bigint << b) ELSE 0 END
                  for b in range(32)])::bigint AS lo,
        list_sum([CASE WHEN cs[b+33] * 64 > t THEN (1::bigint << b) ELSE 0 END
                  for b in range(32)])::bigint AS hi
        FROM ct))"""

  private def audioClipsBuild(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] = {
    implicit val enc: Encoder[Multimodal.MediaRow] = Encoders.product[Multimodal.MediaRow]
    docs(s, dir).select(col("doc_id").cast("long")).as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val n = 2600
          val m = (id / 8 * 2654435761L) % 2147483647L
          val samples = Array.tabulate(n) { j =>
            val base = ((j.toLong * j * ((m % 2999L) + 3L) +
              j.toLong * (17L + m % 101L)) % 3000L) - 1500L
            val noise = ((id * 1000003L + 7919L * j) % 21L) - 10L
            (base + noise).toShort
          }
          Multimodal.MediaRow(id, Codecs.pcmToWav(samples, 8000f),
            Multimodal.MediaMeta("audio", 0, 0, 8000, n))
        }
      }
  }

  /** Deterministic synthetic video per doc: six 8×8 PNG frames (real
    * `javax.imageio` encode) muxed into a GVID container
    * ([[Codecs.packVideo]]). Pixels follow an integer formula of
    * (doc_id, frame, x, y) shared verbatim with the DuckDB oracle — PNG
    * is lossless, so decode returns the exact pixels.
    */
  private def videoClips(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] =
    MediaFixtures.cached(s, dir, "video")(videoClipsBuild(s, dir, Codecs.packVideo))

  /** The same lossless frames, muxed as a REAL ISO-BMFF (MP4) file. */
  private def videoClipsMp4(s: SparkSession, dir: String): Dataset[Multimodal.MediaRow] =
    MediaFixtures.cached(s, dir, "video_mp4")(videoClipsBuild(s, dir, Codecs.packMp4))

  private def videoClipsBuild(s: SparkSession, dir: String,
      mux: Seq[Array[Byte]] => Array[Byte]): Dataset[Multimodal.MediaRow] = {
    implicit val enc: Encoder[Multimodal.MediaRow] = Encoders.product[Multimodal.MediaRow]
    docs(s, dir).select(col("doc_id").cast("long")).as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val frames = (0 until 6).map { f =>
            val img = new java.awt.image.BufferedImage(
              8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val r = ((id * 7 + f * 13 + x * 3 + y * 5) % 256).toInt
                val g = ((id * 11 + f * 3 + x * 7 + y) % 256).toInt
                val b = ((id + f + x + y) % 256).toInt
                img.setRGB(x, y, (r << 16) | (g << 8) | b)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          Multimodal.MediaRow(id, mux(frames),
            Multimodal.MediaMeta("video", 8, 8, 0, 6))
        }
      }
  }

  /** Oracle CTE recomputing [[Codecs.audioFingerprint]] in DuckDB straight
    * from the sample formula (no codec needed — the WAV round trip is
    * bit-lossless). Frame energies are exact integer sums of squares; the
    * 64-bit signature is assembled as two 32-bit halves to stay inside
    * BIGINT, then folded to the signed Long Spark produces.
    */
  private val audioFpCte: String = """WITH dm AS (
      SELECT doc_id, (doc_id // 8 * 2654435761) % 2147483647 AS m
      FROM documents),
    samp AS (
      SELECT doc_id AS id, j,
        ((j*j*((m % 2999) + 3) + j*(17 + m % 101)) % 3000) - 1500
          + ((doc_id*1000003 + 7919*j) % 21) - 10 AS v
      FROM dm, range(2600) t(j)),
    en AS (
      SELECT id, (j*65)//2600 AS f, sum(v*v) AS e
      FROM samp GROUP BY id, (j*65)//2600),
    el AS (SELECT id, list(e ORDER BY f) AS es FROM en GROUP BY id),
    fp AS (
      SELECT id,
        (CASE WHEN hi >= 2147483648 THEN (hi - 4294967296)*4294967296 + lo
              ELSE hi*4294967296 + lo END)::bigint AS fp
      FROM (SELECT id,
        list_sum([CASE WHEN es[b+2] > es[b+1] THEN (1::bigint << b) ELSE 0 END
                  for b in range(32)])::bigint AS lo,
        list_sum([CASE WHEN es[b+34] > es[b+33] THEN (1::bigint << b) ELSE 0 END
                  for b in range(32)])::bigint AS hi
        FROM el))"""

  /** Whitespace tokens of `text` (Q.tokens twin: string_split(text, ' ')). */
  private val toks: Column = split(col("text"), " ")

  /** Integer fold over tokens; both engines fold left with init 0. */
  private def foldInt(arr: Column, f: (Column, Column) => Column): Column =
    aggregate(arr, lit(0L), f)

  // Stopword vote sets for the n-gram-free language-ID heuristic. The
  // corpus vocabulary is ASCII word soup, so the votes are tiny — the
  // OPERATOR (per-language token votes + deterministic argmax) is what we
  // verify, not linguistic accuracy.
  private val langSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "y", "es", "una", "en"))

  private def inSet(set: Seq[String]): Column => Column = {
    val lits = set.map(lit(_))
    t => t.isInCollection(lits)
  }

  private def sqlSet(set: Seq[String]): String = set.map("'" + _ + "'").mkString("(", ",", ")")

  val defs: Seq[QueryDef] = Seq(

    // Token counting: pure per-row map, zero shuffles.
    QueryDef(
      "doc_stats",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"),
          length(col("text")).cast("long").as("n_chars_calc"),
          // one double division of two exact ints → cross-engine stable
          (foldInt(toks, (acc, t) => acc + length(t)).cast("double") /
            size(toks)).as("mean_tok_len"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             len(string_split(text,' '))::bigint AS n_tokens,
             len(list_distinct(string_split(text,' ')))::bigint AS n_types,
             length(text)::bigint AS n_chars_calc,
             list_reduce(list_prepend(0::bigint,
               list_transform(string_split(text,' '), t -> length(t)::bigint)),
               (a,b) -> a+b)::double / len(string_split(text,' ')) AS mean_tok_len
             FROM documents ORDER BY doc_id""")),

    // Quality scoring: stopword ratio + type/token ratio (the standard
    // cheap heuristics for corpus filtering).
    QueryDef(
      "doc_quality",
      (s, dir) => {
        val en = inSet(langSets.head._2)
        docs(s, dir).select(
          col("doc_id"),
          (size(filter(toks, en)).cast("double") / size(toks)).as("stop_ratio"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
          (size(toks) >= 20 && size(toks) <= 1000).as("len_ok"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
             len(list_filter(string_split(text,' '),
               t -> t IN ${sqlSet(langSets.head._2)}))::double
               / len(string_split(text,' ')) AS stop_ratio,
             len(list_distinct(string_split(text,' ')))::double
               / len(string_split(text,' ')) AS ttr,
             len(string_split(text,' ')) BETWEEN 20 AND 1000 AS len_ok
             FROM documents ORDER BY doc_id""")),

    // Language ID: per-language stopword votes, deterministic argmax with
    // declaration-order tie-break (en > de > fr > es).
    QueryDef(
      "doc_langid",
      (s, dir) => {
        val votes = langSets.map { case (l, set) =>
          l -> size(filter(toks, inSet(set))).cast("long")
        }
        val scored = docs(s, dir).select(
          col("doc_id") +: votes.map { case (l, c) => c.as(s"v_$l") }: _*)
        // argmax via greatest + chained CASE (first max in declared order)
        val mx = greatest(votes.map { case (l, _) => col(s"v_$l") }: _*)
        val pred = votes.map(_._1).foldRight(lit("und")) { case (l, acc) =>
          when(col(s"v_$l") === mx && mx > 0, lit(l)).otherwise(acc)
        }
        scored.select(
          col("doc_id"), col("v_en"), col("v_de"), col("v_fr"), col("v_es"),
          pred.as("pred_lang"))
          .orderBy("doc_id")
      },
      Some {
        val vs = langSets.map { case (l, set) =>
          s"len(list_filter(string_split(text,' '), t -> t IN ${sqlSet(set)}))::bigint AS v_$l"
        }.mkString(", ")
        s"""SELECT doc_id, v_en, v_de, v_fr, v_es,
           CASE WHEN v_en = mx AND mx > 0 THEN 'en'
                WHEN v_de = mx AND mx > 0 THEN 'de'
                WHEN v_fr = mx AND mx > 0 THEN 'fr'
                WHEN v_es = mx AND mx > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
           FROM (SELECT doc_id, v_en, v_de, v_fr, v_es,
                   greatest(v_en, v_de, v_fr, v_es) AS mx
                 FROM (SELECT doc_id, $vs FROM documents))
           ORDER BY doc_id"""
      }),

    // Document fingerprinting: whole-text md5-60bit + a polynomial rolling
    // hash over tokens (mod arithmetic keeps both engines in exact int64).
    QueryDef(
      "doc_fingerprint",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          Q.hash60(col("text")).as("fp_text"),
          aggregate(toks, lit(0L), (acc, t) =>
            (acc * 31L + Q.hash60(t) % 1000003L) % 1000000007L).as("fp_roll"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             ${Q.hash60Sql("text")} AS fp_text,
             list_reduce(list_prepend(0::bigint,
               list_transform(string_split(text,' '),
                 t -> (${Q.hash60Sql("t")} % 1000003))),
               (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
             FROM documents ORDER BY doc_id""")),

    // Global token frequency: the one genuinely row-generating op (explode
    // = scespet's `valueSet(expand)` flattening, SURVEY §2.3). Partial
    // aggregation makes the shuffle carry only (token, count) pairs.
    QueryDef(
      "doc_top_tokens",
      (s, dir) =>
        docs(s, dir)
          .select(explode(toks).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(20),
      Some("""SELECT token, count(*) AS cnt
             FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
             GROUP BY token ORDER BY cnt DESC, token LIMIT 20""")),

    // Normalization: lowercase → strip non-alphanumerics → collapse
    // whitespace (the standard pre-dedup canonicalization pass).
    QueryDef(
      "doc_normalize",
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
        docs(s, dir).select(
          col("doc_id"),
          length(norm).cast("long").as("n_chars_norm"),
          Q.hash60(norm).as("norm_fp"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
             length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))::bigint AS n_chars_norm,
             ${Q.hash60Sql("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS norm_fp
             FROM documents ORDER BY doc_id""")),

    // BPE-ish token counting: word pieces + punctuation singletons via the
    // standard pretokenizer regex (whitespace tokens counted separately in
    // doc_stats).
    QueryDef(
      "doc_tokens_bpe",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          regexp_count(lower(col("text")), lit("[a-z0-9_]+|[^a-z0-9_\\s]"))
            .cast("long").as("n_bpe"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9_]+|[^a-z0-9_\s]'))::bigint AS n_bpe
             FROM documents ORDER BY doc_id""")),

    // One BPE-training merge scan (vocabulary induction): count adjacent
    // symbol pairs weighted by word frequency — the inner loop of
    // tokenizer training. Scale shape: the corpus collapses to the WORD
    // FREQUENCY table first (one groupBy — at 100 TB the distinct-word
    // frame is ~10⁷ rows regardless of corpus size, the same reason real
    // BPE trainers pre-aggregate), so the pair explosion runs over words,
    // not tokens; the winning pair would then be merged and the scan
    // repeated (the loop is driver-bounded like KMeans/PageRank).
    QueryDef(
      "doc_bpe_pairs",
      (s, dir) => {
        val words = docs(s, dir)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("wn"))
        words
          .select(col("wn"), explode(expr(
            "transform(sequence(1, char_length(w) - 1), i -> substr(w, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH words AS (
               SELECT w, count(*) AS wn
               FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                     FROM documents)
               WHERE length(w) >= 2 GROUP BY w),
             pairs AS (
               SELECT unnest([substring(w, i, 2) for i in range(1, length(w))])
                 AS pair, wn
               FROM words)
             SELECT pair, sum(wn)::bigint AS n
             FROM pairs GROUP BY pair
             ORDER BY n DESC, pair LIMIT 20""")),

    // FULL BPE merge-training loop (operators.BPE): 256 greedy argmax-merge
    // rounds over the distinct-word frequency frame — the actual tokenizer
    // trainer at a production-shaped round count, not just one scan. The
    // vocab-bounded frame is collected once and the merge loop runs
    // driver-side with incremental pair counts (BPE.train), so 256 rounds
    // cost ONE Spark job, not 256. On this fixture's vocabulary the pair
    // supply exhausts before 256 (both engines stop at the same rank —
    // the trainer's termination path is part of what's gated). Oracle
    // replays the same data-dependent rounds as generated unrolled CTEs
    // (see BPE.oracleSql). Restricting words to [a-z0-9]+ keeps the
    // `|…|` segmentation encoding unambiguous.
    QueryDef(
      "doc_bpe_train",
      (s, dir) => {
        val words = docs(s, dir)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
        graft.operators.BPE.trainDf(s, words, rounds = 256).orderBy("merge_rank")
      },
      Some(graft.operators.BPE.oracleSql(
        """SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w""", rounds = 256))),

    // BPE ENCODE — the other half of the tokenizer: apply the trained
    // merge table to the corpus (train on this corpus, then tokenize it —
    // the standard self-tokenization pipeline step). Scale shape: the
    // k-bounded merge table (8 driver-resident rules) is applied by the
    // typed-JVM segmenter (BPE.nToksJvm — VERDICT r11 #1: the
    // nested-replace plan expression was interpreted per distinct word
    // and pinned this query's DuckDB ratio flat across scale; the JVM
    // twin is bit-parity-pinned against it in BpeSpec) over the
    // DISTINCT-WORD frame — map-only, zero shuffles — and per-doc token
    // counts come from joining that ~10⁷-row (at 100 TB) word→n_toks map
    // back to doc word occurrences via broadcast — merges are NEVER
    // applied per corpus token. One shuffle total (the groupBy(doc_id)
    // partial-agg pair); the oracle replays the identical 8 data-dependent
    // rounds as unrolled CTEs and joins back the same way.
    QueryDef(
      "doc_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val words = docs(s, dir)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
          .persist() // train's one vocab collect + encode both consume it
        val merges = graft.operators.BPE.train(words, rounds = 8)
        val rules = graft.operators.BPE.compileRules(merges)
        val wordToks = words.select(col("w")).as[String]
          .map(w => (w, graft.operators.BPE.nToksJvm(w, rules)))
          .toDF("w", "n_toks")
        docs(s, dir)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
          // the regex filter is REDUNDANT on this pass: wordToks is
          // exactly the regex-passing vocabulary, so the broadcast INNER
          // join drops non-matching tokens for free — measured −25% on
          // the doc pass at sf1 (VERDICT r14 #4), results bit-identical
          .join(broadcast(wordToks), "w")
          .groupBy("doc_id")
          .agg(sum(col("n_toks")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(graft.operators.BPE.encodeOracleWith(
        """SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w""", rounds = 8) +
        """, docw AS (
             SELECT doc_id, w FROM (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
               FROM documents)
             WHERE regexp_full_match(w, '[a-z0-9]+'))
           SELECT doc_id, sum(n_toks)::bigint AS n_tokens
           FROM docw JOIN encoded USING (w)
           GROUP BY doc_id ORDER BY doc_id""".replaceAll("\\s+", " "))),

    // UNIGRAM-LM (SentencePiece-style) tokenizer TRAINING — the other
    // major tokenizer family (Kudo 2018; VERDICT r10 #6), same loop
    // discipline as doc_bpe_train: the corpus collapses to the
    // distinct-word frequency frame distributed, the hard-EM loop (seed
    // substrings → quantized-ln scores → Viterbi re-segmentation →
    // re-count → prune) runs driver-side over the vocab-guarded collect,
    // ONE Spark job total. The oracle replays the ENTIRE trainer —
    // including every EM round's per-position Viterbi DP and the
    // backtrack walk that recovers segment counts — as generated
    // unrolled CTEs from the same Params (operators.UnigramLM).
    QueryDef(
      "doc_unigram_train",
      (s, dir) => {
        val words = docs(s, dir)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
        graft.operators.UnigramLM.trainDf(s, words, UnigramP).orderBy("piece")
      },
      Some(graft.operators.UnigramLM.oracleSql(
        """SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w""", UnigramP))),

    // UNIGRAM-LM ENCODE — Viterbi-tokenize the corpus under the trained
    // vocabulary. The DP runs as ONE plan expression over the
    // DISTINCT-word frame (UnigramLM.encodeExpr: aggregate fold over
    // word positions, trained scores as a literal map — map-only, zero
    // shuffles) and broadcast-joins back to per-doc occurrences, the
    // doc_bpe_encode shape: segmentation cost is paid once per distinct
    // word, never once per corpus token. Output per doc: piece count and
    // the quantized negative log-likelihood of its unique segmentation.
    QueryDef(
      "doc_unigram_encode",
      (s, dir) => {
        val words = docs(s, dir)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
          .persist() // the trainer's guarded collect + encode share it
        val vocab = graft.operators.UnigramLM.train(words, UnigramP)
        val enc = words.select(col("w"),
          graft.operators.UnigramLM.encodeExpr(col("w"), vocab, UnigramP).as("e"))
          .select(col("w"), col("e")("n").cast("long").as("n_p"),
            col("e")("q").as("wq"))
        docs(s, dir)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
          // regex filter elided: `enc` is exactly the regex-passing
          // vocabulary, so the broadcast INNER join is the filter
          // (doc_bpe_encode's measured −25% doc-pass win, VERDICT r14 #4)
          .join(broadcast(enc), "w")
          .groupBy("doc_id")
          .agg(sum(col("n_p")).as("n_pieces"), sum(-col("wq")).as("nll_q"))
          .orderBy("doc_id")
      },
      Some(graft.operators.UnigramLM.encodeOracleWith(
        """SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w""", UnigramP) +
        """, docw AS (
             SELECT doc_id, w AS word FROM (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
               FROM documents)
             WHERE regexp_full_match(w, '[a-z0-9]+'))
           SELECT doc_id, sum(n)::bigint AS n_pieces, sum(-q)::bigint AS nll_q
           FROM docw JOIN encw USING (word)
           GROUP BY doc_id ORDER BY doc_id""".replaceAll("\\s+", " "))),

    // Tokenize AT INGEST — the streaming completion of the BPE story:
    // the merge table is trained batch-side on the historical corpus
    // (the same 8-round loop as doc_bpe_train) and FROZEN as `rounds`
    // driver-resident rules; arriving documents are then tokenized
    // STATELESSLY inside the micro-batch map — the typed-JVM segmenter
    // (BPE.nToksJvm, bit-parity-pinned against the plan-expression form
    // in BpeSpec; VERDICT r11 #1) runs per word in-row, with a
    // per-partition word→count memo so repeated words pay the merge walk
    // once per task, not once per occurrence (no distinct-word frame
    // exists at ingest time; that is the deliberate batch-vs-ingest trade
    // this pair documents). Zero streaming state; docs with no
    // tokenizable word are dropped exactly like the batch join does.
    // Oracle: identical to doc_bpe_encode — the stream sees the same
    // corpus the batch pass encodes.
    QueryDef(
      "stream_bpe_encode",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        // merge table FROZEN per JVM: trained once offline in a real
        // deployment, shipped to the ingest job as literals
        val merges = StreamFixtures.frozen("bpe_merges8|" + dir) {
          val words = docs(s, dir)
            .select(explode(split(lower(col("text")), " ")).as("w"))
            .filter(col("w").rlike("^[a-z0-9]+$"))
            .groupBy("w").agg(count(lit(1)).as("wn"))
          graft.operators.BPE.train(words, rounds = 8)
        }
        val schema = graft.core.Tables.cachedSchema(s, s"$dir/documents.parquet")
        // scanWide: the JVM tokenize is the CPU cost here — fan the
        // single-split fixture scan across cores before it
        val src = StreamHarness.scanWide(s, s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir))
        val rules = graft.operators.BPE.compileRules(merges)
        val out = {
          import s.implicits._
          src.select(col("doc_id"), col("text")).as[(Long, String)]
            .mapPartitions { it =>
              // word→count memo, bounded by the partition's distinct
              // vocabulary (language-bounded, never corpus-sized)
              val memo = new java.util.HashMap[String, java.lang.Long]()
              it.flatMap { case (id, text) =>
                // lowercase via UTF8String — the SAME routine Spark's
                // lower() uses on the batch path, so stream vs batch can
                // never diverge on non-ASCII input under a tr/az default
                // locale (ADVICE r12; Locale.ROOT only matched the ASCII
                // fast path)
                val ws = org.apache.spark.unsafe.types.UTF8String
                  .fromString(text).toLowerCase.toString.split(" ", -1)
                var n = 0L
                var i = 0
                while (i < ws.length) {
                  val w = ws(i)
                  if (graft.operators.BPE.wordOk(w)) {
                    var c = memo.get(w)
                    if (c == null) {
                      c = java.lang.Long.valueOf(
                        graft.operators.BPE.nToksJvm(w, rules))
                      memo.put(w, c)
                    }
                    n += c.longValue
                  }
                  i += 1
                }
                if (n > 0L) Iterator.single((id, n)) else Iterator.empty
              }
            }.toDF("doc_id", "n_tokens")
        }
        StreamHarness.drain(out).orderBy("doc_id")
      },
      Some(graft.operators.BPE.encodeOracleWith(
        """SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY w""", rounds = 8) +
        """, docw AS (
             SELECT doc_id, w FROM (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
               FROM documents)
             WHERE regexp_full_match(w, '[a-z0-9]+'))
           SELECT doc_id, sum(n_toks)::bigint AS n_tokens
           FROM docw JOIN encoded USING (w)
           GROUP BY doc_id ORDER BY doc_id""".replaceAll("\\s+", " "))),

    // Deterministic sampling: hash-gate instead of seeded RNG — the same
    // 10% sample on any engine, any partitioning, any run.
    QueryDef(
      "doc_sample",
      (s, dir) =>
        docs(s, dir)
          .filter(graft.operators.Sampling.sampleGate("sample", col("doc_id"), 10))
          .agg(count(lit(1)).as("n_sampled"),
            Q.dsum(col("n_chars")).cast("long").as("sampled_chars")),
      Some(s"""SELECT count(*) AS n_sampled,
             sum(n_chars::decimal(38,6))::bigint AS sampled_chars
             FROM documents
             WHERE ${Q.hash60Sql("'sample|' || doc_id")} % 100 < 10""")),

    // Deterministic train/val/test split: hash-range assignment
    // (80/10/10) — reproducible and leak-free by construction.
    QueryDef(
      "doc_split",
      (s, dir) => {
        docs(s, dir)
          .withColumn("split", graft.operators.Sampling.splitAssign(
            "split", col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10)))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            Q.dsum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("split")
      },
      Some(s"""SELECT CASE WHEN h < 80 THEN 'train'
                         WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs,
             sum(n_chars::decimal(38,6))::bigint AS total_chars
             FROM (SELECT *, ${Q.hash60Sql("'split|' || doc_id")} % 100 AS h
                   FROM documents)
             GROUP BY 1 ORDER BY split""")),

    // Deterministic per-epoch corpus shuffling (the dataloader's other
    // half next to sequence packing): each epoch e permutes the corpus
    // by the cross-engine order key hash60('shuf|e|doc_id') — a new
    // independent permutation per epoch with zero state and exact
    // replayability from (corpus, epoch) alone, which is how a 100-TB
    // training run shuffles without ever materializing a permutation.
    // The readout gates the head of each epoch's order (top-20 per
    // epoch): the rank<=k filter rides WindowGroupLimit, so per-epoch
    // top-k prunes map-side — the plan never globally sorts the corpus.
    QueryDef(
      "doc_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        val ep = Seq(0L, 1L, 2L).toDF("epoch")
        val keyed = docs(s, dir).select(col("doc_id"))
          .crossJoin(broadcast(ep))
          .withColumn("okey", Q.hash60(concat(lit("shuf|"),
            col("epoch").cast("string"), lit("|"), col("doc_id").cast("string"))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("epoch").orderBy(col("okey"), col("doc_id"))
        keyed.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("epoch"), col("rk").cast("long").as("rk"),
            col("doc_id"), col("okey"))
          .orderBy("epoch", "rk")
      },
      Some(s"""WITH keyed AS (
               SELECT e.epoch, doc_id,
                 ${Q.hash60Sql("'shuf|' || e.epoch || '|' || doc_id")} AS okey
               FROM documents, (SELECT unnest([0, 1, 2]) AS epoch) e)
             SELECT epoch, rk, doc_id, okey FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY epoch ORDER BY okey, doc_id) AS rk
               FROM keyed) WHERE rk <= 20 ORDER BY epoch, rk""")),

    // DSIR importance resampling (Xie et al. 2023): pick the 10% of the
    // corpus whose hashed unigram+bigram profile is most like the
    // lang='en' target subset — importance weight p_target/q_raw under
    // two bag-of-hashed-n-gram models, Gumbel-top-k resampled. Operator
    // scaladoc ([[graft.operators.Dsir]]) carries the scale shape (map-
    // side hashing, one shared model pass, broadcast B-row model,
    // TakeOrdered selection) and the quantized-ln determinism regime.
    QueryDef(
      "doc_dsir_sample",
      (s, dir) =>
        graft.operators.Dsir.select(
          Q.fanWide(docs(s, dir)).select(col("doc_id"), col("lang"), toks.as("t")),
          col("doc_id"), col("t"), col("lang") === "en", buckets = 4096)
          .withColumnRenamed("id", "doc_id"),
      Some(s"""WITH d AS (
               SELECT doc_id, lang, string_split(text, ' ') AS t
               FROM documents),
             feats AS MATERIALIZED (
               SELECT doc_id, lang,
                 ${Q.hash60Sql("'dsir|'||f")} % 4096 AS bucket
               FROM (SELECT doc_id, lang,
                       unnest(list_concat(
                         list_transform(t, w -> 'u:'||w),
                         CASE WHEN len(t) >= 2
                              THEN list_transform(
                                     generate_series(1, len(t) - 1),
                                     i -> 'b:'||t[i]||' '||t[i+1])
                              ELSE CAST([] AS varchar[]) END)) AS f
                     FROM d)),
             bc AS MATERIALIZED (
               SELECT bucket,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint AS tc,
                 count(*)::bigint AS rc
               FROM feats GROUP BY bucket),
             tot AS (SELECT sum(tc)::bigint AS tt, sum(rc)::bigint AS rt
                     FROM bc),
             sq AS (SELECT bucket,
                 floor(ln(((tc + 1) * (rt + 4096))::double
                   / ((tt + 4096) * (rc + 1))::double) * 10000)::bigint AS s_q
               FROM bc CROSS JOIN tot),
             scored AS MATERIALIZED (
               SELECT doc_id, sum(s_q)::bigint AS lw_q,
                 sum(s_q)::bigint + floor(-ln(-ln(
                   ((${Q.hash60Sql("'dsir-g|'||doc_id")} % 1048576) + 1)::double
                   / 1048577.0)) * 10000)::bigint AS score_q
               FROM feats JOIN sq USING (bucket)
               GROUP BY doc_id)
             SELECT doc_id, lw_q, score_q
             FROM (SELECT *, row_number() OVER (ORDER BY score_q DESC, doc_id)
                     AS rn FROM scored)
             WHERE rn <= (SELECT (count(*) + 9) // 10 FROM scored)
             ORDER BY score_q DESC, doc_id""")),

    // Data-mixture sampling (the LLaMA/Pile-style mixture step): given
    // per-source mixture WEIGHTS and a total token BUDGET (half the
    // corpus here), derive each source's per-mille sampling rate
    // rate_s = min(1, budget·w_s / (W·tok_s)) and apply it with the
    // deterministic per-mille hash gate. All rate math is exact integer
    // DIV over per-source aggregates (20 rows; the window runs on a
    // single tiny partition), docs are gated by a pure map — the only
    // full-data shuffles are one groupBy(source) partial-agg pair. A
    // left join from rates keeps sources whose sample came up empty.
    QueryDef(
      "doc_mixture_sample",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
        val d = docs(s, dir).select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val rates = d.groupBy("source")
          .agg(sum(col("n_tokens")).as("tok"))
          .withColumn("w",
            when(col("source").isin("src0", "src1", "src2", "src3"), 125L)
              .otherwise(30L))
          .withColumn("btot", expr("sum(tok) OVER (PARTITION BY 1) DIV 2"))
          .withColumn("wtot", sum(col("w")).over(w))
          .withColumn("rate",
            least(lit(1000L), expr("(btot * w DIV wtot) * 1000 DIV tok")))
          .select("source", "rate")
        val kept = d
          .join(broadcast(rates), "source")
          .filter(graft.operators.Sampling
            .permilleHash("mix", col("doc_id")) < col("rate"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tok_kept"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("rate"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
             SELECT doc_id, source,
               len(string_split(text, ' '))::bigint AS n_tokens
             FROM documents),
           rates AS (
             SELECT source,
               least(1000, (((sum(tok) OVER ()) // 2) * w // (sum(w) OVER ()))
                 * 1000 // tok)::bigint AS rate
             FROM (SELECT source, sum(n_tokens)::bigint AS tok,
                     (CASE WHEN source IN ('src0','src1','src2','src3')
                      THEN 125 ELSE 30 END)::bigint AS w
                   FROM d GROUP BY source)),
           kept AS (
             SELECT source, count(*)::bigint AS n_docs,
               sum(n_tokens)::bigint AS tok_kept
             FROM d JOIN rates USING (source)
             WHERE ${Q.hash60Sql("'mix|' || doc_id")} % 1000 < rate
             GROUP BY source)
           SELECT source, rate,
             coalesce(n_docs, 0)::bigint AS n_docs,
             coalesce(tok_kept, 0)::bigint AS tok_kept
           FROM rates LEFT JOIN kept USING (source)
           ORDER BY source"""),
    ),

    // Deterministic curriculum sharding: exact-histogram range
    // partitioning by token count (operators.RangeShards) — the
    // reproducible "sort the corpus into N sorted shards" step that
    // sampling-based repartitionByRange can't give. Output: per-shard
    // stats; ranges are contiguous, whole-key, and run-identical.
    QueryDef(
      "doc_quality_shards",
      (s, dir) => {
        val d = docs(s, dir).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        graft.operators.RangeShards.assign(d, "n_tokens", 8)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_tokens")).as("min_tok"),
            max(col("n_tokens")).as("max_tok"),
            sum(col("n_tokens")).as("tok_total"))
          .orderBy("shard")
      },
      Some(s"""WITH d AS (
             SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tokens
             FROM documents),
           h AS (SELECT n_tokens AS s, count(*)::bigint AS c
                 FROM d GROUP BY n_tokens),
           cuts AS (
             SELECT s,
               (coalesce(sum(c) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 * 8 // (sum(c) OVER ()))::bigint AS shard
             FROM h)
           SELECT shard, count(*)::bigint AS n_docs,
             min(n_tokens) AS min_tok, max(n_tokens) AS max_tok,
             sum(n_tokens)::bigint AS tok_total
           FROM d JOIN cuts ON d.n_tokens = cuts.s
           GROUP BY shard ORDER BY shard"""),
    ),

    // END-TO-END pipeline composition: quality gate → exact-dedup
    // survivors → per-language corpus stats. The shape every training-data
    // prep job has; each stage is one of the operators verified above, and
    // the composition still matches the oracle exactly.
    QueryDef(
      "pipeline_clean_corpus",
      (s, dir) => {
        val toksC = split(col("text"), " ")
        val quality = docs(s, dir)
          .withColumn("n_tokens", size(toksC))
          .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
        val survivors = quality
          .withColumn("h", Q.hash60(col("text")))
          .withColumn("keep", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("h").orderBy("doc_id")) === 1)
          .filter(col("keep"))
        survivors
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            Q.dsum(col("n_tokens")).cast("long").as("total_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH quality AS (
             SELECT *, len(string_split(text, ' ')) AS n_tokens
             FROM documents WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000),
           survivors AS (
             SELECT * FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY ${Q.hash60Sql("text")} ORDER BY doc_id) AS rn
               FROM quality)
             WHERE rn = 1)
           SELECT lang, count(*) AS n_docs,
             sum(n_tokens::decimal(38,6))::bigint AS total_tokens
           FROM survivors GROUP BY lang ORDER BY lang""")),

    // STREAMING corpus cleaning: the same gate → dedup → stats pipeline on
    // a LIVE ingest feed. The dedup stage is streaming.KeepFirst —
    // first-wins with a deterministic (doc_id) tie-break, because Spark's
    // dropDuplicates keeps an arbitrary batch row and this corpus really
    // does carry identical texts under different lang labels. Fed as two
    // doc_id-split halves so cross-batch registry hits are exercised;
    // the per-language rollup runs over the sink (the streaming stages
    // are the gate + stateful dedup). Oracle: identical to the batch
    // pipeline_clean_corpus.
    QueryDef(
      "stream_clean_corpus",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.docsHalves(s, dir)
        val schema = StreamFixtures.docsHalvesSchema(s, dir)
        // batch 1: low doc_ids seed the registry
        // batch 2: cross-batch dups suppressed
        StreamHarness.drainFeed(fx, Seq("lo", "hi")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .withColumn("n_tokens", size(split(col("text"), " ")))
            .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
            .select(Q.hash60(col("text")).as("h"), col("doc_id").as("ord"),
              col("lang"), col("n_tokens").cast("long").as("nTokens"))
            .as[graft.streaming.KeyedDoc]
          graft.streaming.KeepFirst(src)
        }
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            Q.dsum(col("nTokens")).cast("long").as("total_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH quality AS (
             SELECT *, len(string_split(text, ' ')) AS n_tokens
             FROM documents WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000),
           survivors AS (
             SELECT * FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY ${Q.hash60Sql("text")} ORDER BY doc_id) AS rn
               FROM quality)
             WHERE rn = 1)
           SELECT lang, count(*) AS n_docs,
             sum(n_tokens::decimal(38,6))::bigint AS total_tokens
           FROM survivors GROUP BY lang ORDER BY lang""")),

    // TTL-REGISTRY corpus cleaning (VERDICT r10 #5 — the eviction path
    // itself under the cross-engine gate): same gate → dedup → stats
    // pipeline, but the dedup registry is KeepFirst.withTtl — the
    // bounded-state deployment shape (state ≤ keys active within any ttl
    // window, soak-proven). Four event-time batches drive a DETERMINISTIC
    // eviction schedule (constants + inequalities in StreamFixtures
    // .TtlGate): batch 1 = grp-0 docs at T1, batch 2 = grp-1 at T2
    // (watermark passes T1+ttl → idle batch-1 keys EVICT), batch 3 =
    // grp-2 at T3, batch 4 = the grp-0 docs REPLAYED at T4 — keys seen
    // only in batch 1 RE-EMIT (eviction + re-emission across batches, the
    // gate's point); keys a batch-2/3 duplicate refreshed stay suppressed
    // (the sliding-TTL refresh path). Closed form in the oracle: each
    // key's first-batch min-(doc_id, lang) row once, plus a second copy
    // for keys whose docs all sit in batch 1, plus — the case the
    // sf1-equivalent gate caught (round 11): keys sighted in batches
    // {1, 3} but NOT 2 are already evicted when batch 3 arrives (the
    // watermark advanced past T1+ttl at batch 2), so their batch-3
    // duplicate RE-EMITS too (min-(doc_id, lang) among the grp-2 rows;
    // refreshed to T3+ttl, their batch-4 replay stays suppressed). Such
    // {grp0, grp2}-only duplicate keys first exist at 10× volume — the
    // ScaleFixture copy stride shifts doc_id mod 3 — which is why the
    // sf0.001–0.1 gates could not see the hole.
    QueryDef(
      "stream_clean_corpus_ttl",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        // ADVICE r11: the oracle's closed form (the {grp0,grp2}-only
        // re-emit at batch 3) requires the NO-DATA micro-batch after
        // batch 2 to fire EventTimeTimeout evictions before batch 3's
        // data arrives. Fail loudly on harness config drift instead of
        // as an unexplained hash divergence.
        require(s.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true").toBoolean,
          "stream_clean_corpus_ttl needs " +
            "spark.sql.streaming.noDataMicroBatches.enabled=true: the " +
            "TtlGate closed form counts on an idle micro-batch firing " +
            "evictions between event-time batches")
        val fx = StreamFixtures.docsTtlBatches(s, dir)
        val schema = StreamFixtures.docsTtlBatchesSchema(s, dir)
        // b1: grp-0 keys seed the registry
        // b2: wm→T2 > T1+ttl — idle b1 keys evict
        // b3: refreshed keys survive (T3 < T2+ttl)
        // b4: grp-0 replay — evicted keys re-emit
        StreamHarness.drainFeed(fx, Seq("b1", "b2", "b3", "b4")) { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .withColumn("n_tokens", size(split(col("text"), " ")))
            .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
            .select(Q.hash60(col("text")).as("h"), col("doc_id").as("ord"),
              col("lang"), col("n_tokens").cast("long").as("nTokens"),
              col("ts"))
            .as[graft.streaming.TsKeyedDoc]
          graft.streaming.KeepFirst.withTtl(src, TtlGate.TtlMs)
        }
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            Q.dsum(col("nTokens")).cast("long").as("total_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH quality AS MATERIALIZED (
             SELECT doc_id, lang,
               len(string_split(text, ' '))::bigint AS n_tokens,
               (doc_id % 3)::int AS grp, ${Q.hash60Sql("text")} AS h
             FROM documents
             WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000),
           keys AS (SELECT h, min(grp) AS g1, max(grp) AS gmax,
               max(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS h1,
               max(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS h2
             FROM quality GROUP BY h),
           firstrow AS MATERIALIZED (
             SELECT lang, n_tokens, gmax FROM (
               SELECT q.lang, q.n_tokens, k.gmax,
                 row_number() OVER (PARTITION BY q.h
                   ORDER BY q.doc_id, q.lang) AS rn
               FROM quality q JOIN keys k USING (h) WHERE q.grp = k.g1)
             WHERE rn = 1),
           reemit3 AS (
             SELECT lang, n_tokens FROM (
               SELECT q.lang, q.n_tokens,
                 row_number() OVER (PARTITION BY q.h
                   ORDER BY q.doc_id, q.lang) AS rn
               FROM quality q JOIN keys k USING (h)
               WHERE k.g1 = 0 AND k.h1 = 0 AND k.h2 = 1 AND q.grp = 2)
             WHERE rn = 1),
           emitted AS (
             SELECT lang, n_tokens FROM firstrow
             UNION ALL
             SELECT lang, n_tokens FROM firstrow WHERE gmax = 0
             UNION ALL
             SELECT lang, n_tokens FROM reemit3)
           SELECT lang, count(*)::bigint AS n_docs,
             sum(n_tokens::decimal(38,6))::bigint AS total_tokens
           FROM emitted GROUP BY lang ORDER BY lang""")),

    // Multimodal plumbing: opaque binary column + typed metadata. The
    // "decode" is a deterministic stand-in (byte length / prefix hash) —
    // the real image/audio decode would be a mapPartitions over the same
    // binary column (libs not in this container; see graft.multimodal).
    QueryDef(
      "mm_binary_meta",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"),
            substring(col("text"), 1, 64).as("prefix"), col("source"))
          .select(
            col("doc_id"),
            length(col("blob")).cast("long").as("n_bytes"),
            Q.hash60(col("prefix")).as("prefix_fp"),
            col("source"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, octet_length(encode(text))::bigint AS n_bytes,
             ${Q.hash60Sql("substr(text, 1, 64)")} AS prefix_fp, source
             FROM documents ORDER BY doc_id""")),

    // Benchmark DECONTAMINATION: flag corpus documents sharing any 8-gram
    // with a held-out benchmark set (here: every 20th doc plays the
    // benchmark) — the standard eval-leakage sweep. The join is on 60-bit
    // 8-gram hashes: the benchmark index is a distinct narrow hash set
    // (broadcastable at realistic benchmark sizes), the corpus side
    // explodes to (doc_id, hash) — never text-vs-text comparisons.
    QueryDef(
      "doc_decontaminate",
      (s, dir) => {
        def grams8(toks: Column): Column = array_distinct(
          transform(
            sequence(lit(1), greatest(size(toks) - 7, lit(0))),
            i => Q.hash60(concat_ws(" ",
              (0 until 8).map(o => element_at(toks, i + o)): _*))))
        // persist: the hash pass feeds BOTH the benchmark index and the
        // corpus side — without it the md5 sweep runs twice
        val base = Q.fanWide(docs(s, dir)) // 8-gram md5 sweep on a 1-split scan
          .filter(size(split(col("text"), " ")) >= 8)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), grams8(col("t")).as("hs"))
          .persist()
        val bench = base.filter(col("doc_id") % 20 === 0)
          .select(explode(col("hs")).as("h")).distinct()
        base.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .join(broadcast(bench), "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
             SELECT doc_id,
               list_distinct([${Q.hash60Sql("array_to_string(t[i:i+7], ' ')")}
                 for i in range(1, greatest(len(t) - 6, 1))]) AS hs
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 8),
           bench AS (
             SELECT DISTINCT unnest(hs) AS h FROM base WHERE doc_id % 20 = 0),
           corp AS (
             SELECT doc_id, unnest(hs) AS h FROM base WHERE doc_id % 20 <> 0)
           SELECT doc_id, count(*) AS n_hits
           FROM corp JOIN bench USING (h)
           GROUP BY doc_id ORDER BY doc_id""")),

    // The SAME decontamination sweep through operators.Decontaminate's
    // Bloom-pruned two-phase plan (prune on a broadcast ~10-bits/key
    // sketch → exact join over survivors only). The answer is identical
    // by construction — false positives die in the exact phase — so it
    // shares doc_decontaminate's oracle verbatim: what this entry pins is
    // that the at-scale plan (the one that works when the benchmark index
    // is too big to broadcast raw) returns the bit-identical result.
    QueryDef(
      "doc_decontaminate_bloom",
      (s, dir) => {
        def grams8(toks: Column): Column = array_distinct(
          transform(
            sequence(lit(1), greatest(size(toks) - 7, lit(0))),
            i => Q.hash60(concat_ws(" ",
              (0 until 8).map(o => element_at(toks, i + o)): _*))))
        val base = Q.fanWide(docs(s, dir)) // 8-gram md5 sweep on a 1-split scan
          .filter(size(split(col("text"), " ")) >= 8)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), grams8(col("t")).as("hs"))
          .persist()
        val bench = base.filter(col("doc_id") % 20 === 0)
          .select(explode(col("hs")).as("h")).distinct()
        val corpus = base.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode(col("hs")).as("h"))
        graft.operators.Decontaminate.hits(corpus, bench)
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
             SELECT doc_id,
               list_distinct([${Q.hash60Sql("array_to_string(t[i:i+7], ' ')")}
                 for i in range(1, greatest(len(t) - 6, 1))]) AS hs
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 8),
           bench AS (
             SELECT DISTINCT unnest(hs) AS h FROM base WHERE doc_id % 20 = 0),
           corp AS (
             SELECT doc_id, unnest(hs) AS h FROM base WHERE doc_id % 20 <> 0)
           SELECT doc_id, count(*) AS n_hits
           FROM corp JOIN bench USING (h)
           GROUP BY doc_id ORDER BY doc_id""")),

    // STREAMING decontamination — the production deployment of the
    // eval-leakage sweep: the benchmark index is STATIC (built once,
    // batch), new corpus documents arrive continuously and each
    // micro-batch joins its exploded n-gram hashes against it
    // (stream-static inner join — stateless, no watermark needed; the
    // per-doc hit count is the only state, bounded by contaminated docs,
    // which are rare by construction). Two time-ordered batches prove the
    // accumulation crosses micro-batch boundaries. Oracle: the same
    // batch SQL as doc_decontaminate — arrival order cannot change a
    // pure count.
    QueryDef(
      "stream_decontaminate",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        def grams8(toks: Column): Column = array_distinct(
          transform(
            sequence(lit(1), greatest(size(toks) - 7, lit(0))),
            i => Q.hash60(concat_ws(" ",
              (0 until 8).map(o => element_at(toks, i + o)): _*))))
        // static side: benchmark index from the batch table (every 20th doc)
        // token array materialized before the lambda (see
        // doc_repeated_spans note: no CSE inside higher-order lambdas).
        // FROZEN per JVM (StreamFixtures.frozen): deployed, the benchmark
        // index is built once offline; localCheckpoint survives Bench's
        // between-run clearCache (and releases the old persist leak).
        val bench = StreamFixtures.frozen("sdc_bench|" + dir) {
          docs(s, dir)
            .filter(col("doc_id") % 20 === 0 &&
              size(split(col("text"), " ")) >= 8)
            .select(split(col("text"), " ").as("t"))
            .select(explode(grams8(col("t"))).as("h"))
            .distinct().localCheckpoint(true)
        }
        val fx = StreamFixtures.docsHalves(s, dir)
        val schema = StreamFixtures.docsHalvesSchema(s, dir)
        // batch 1: low-id half; batch 2: hits accumulate across batches
        StreamHarness.drainFeed(fx, Seq("lo", "hi"), "complete") { srcDir =>
          // scanWide: the 8-gram hash explode is the CPU cost — fan the
          // single-split scan across cores before computing it
          StreamHarness.scanWide(s,
              s.readStream.schema(schema).parquet(srcDir))
            .filter(col("doc_id") % 20 =!= 0 &&
              size(split(col("text"), " ")) >= 8)
            .select(col("doc_id"), split(col("text"), " ").as("t"))
            .select(col("doc_id"), explode(grams8(col("t"))).as("h"))
            // stream-static: the static index must BROADCAST — without the
            // hint the planner shuffle-joins, re-exchanging the exploded
            // stream side every micro-batch (measured 9.6 s → 2.5 s)
            .join(broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_hits"))
        }.orderBy("doc_id")
      },
      Some(s"""WITH base AS (
             SELECT doc_id,
               list_distinct([${Q.hash60Sql("array_to_string(t[i:i+7], ' ')")}
                 for i in range(1, greatest(len(t) - 6, 1))]) AS hs
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 8),
           bench AS (
             SELECT DISTINCT unnest(hs) AS h FROM base WHERE doc_id % 20 = 0),
           corp AS (
             SELECT doc_id, unnest(hs) AS h FROM base WHERE doc_id % 20 <> 0)
           SELECT doc_id, count(*) AS n_hits
           FROM corp JOIN bench USING (h)
           GROUP BY doc_id ORDER BY doc_id""")),

    // Cross-document repeated-SPAN mining — the distributed signal behind
    // exact-substring deduplication ("Deduplicating Training Data Makes
    // Language Models Better", Lee et al. 2021: repeated ≥k-token spans
    // across documents are memorization fuel and should be cut). The
    // suffix-array construction of the paper is inherently sequential; the
    // scalable equivalent is rolling 8-token window hashes: a span is
    // REPEATED iff its hash occurs in ≥2 distinct documents. All frames
    // are narrow (doc_id, hash64) longs: one explode, one groupBy(h)
    // partial agg to find shared hashes, one hash-join back, two tiny
    // per-doc aggs — no text ever shuffles, no broadcast of the (possibly
    // huge) shared-span set needed. Per doc: total distinct spans, spans
    // shared with another doc, and an exact per-mille share — the cut
    // signal for a span-level dedup pass.
    QueryDef(
      "doc_repeated_spans",
      (s, dir) => {
        def spanHashes(toks: Column): Column = array_distinct(
          transform(
            sequence(lit(1), greatest(size(toks) - 7, lit(0))),
            i => Q.hash60(concat_ws(" ",
              (0 until 8).map(o => element_at(toks, i + o)): _*))))
        // materialize the token array BEFORE the window lambda: codegen
        // does NOT common-subexpression-eliminate inside higher-order
        // function lambdas, so an inline split() re-tokenizes the whole
        // text per element_at — measured 12 s → 1.6 s on this query
        val spans = Q.fanWide(docs(s, dir)) // 8-gram md5 explode: fan the scan
          .filter(size(split(col("text"), " ")) >= 8)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), explode(spanHashes(col("t"))).as("h"))
          .persist() // feeds the shared-set agg AND both per-doc aggs
        // per-doc distinct by construction ⇒ count(*) = distinct docs
        val shared = spans.groupBy("h")
          .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("h")
        val perDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
        val sharedPerDoc = spans.join(shared, "h")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        perDoc.join(sharedPerDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"))
          .withColumn("shared_pm",
            expr("n_shared * 1000 DIV n_spans")) // exact integer per-mille
          .orderBy("doc_id")
      },
      Some(s"""WITH spans AS (
             SELECT doc_id, unnest(list_distinct(
               [${Q.hash60Sql("array_to_string(t[i:i+7], ' ')")}
                 for i in range(1, greatest(len(t) - 6, 1))])) AS h
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 8),
           shared AS (
             SELECT h FROM spans GROUP BY h HAVING count(*) >= 2),
           per_doc AS (
             SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
           shared_per_doc AS (
             SELECT doc_id, count(*) AS n_shared
             FROM spans JOIN shared USING (h) GROUP BY doc_id)
           SELECT p.doc_id, p.n_spans,
             coalesce(s.n_shared, 0)::bigint AS n_shared,
             (coalesce(s.n_shared, 0) * 1000 // p.n_spans)::bigint AS shared_pm
           FROM per_doc p LEFT JOIN shared_per_doc s USING (doc_id)
           ORDER BY p.doc_id""")),

    // Repeated-span CUT — the other half of the Lee et al. exact-substring
    // dedup (doc_repeated_spans finds the signal, this computes the CUT):
    // for every doc, the exact number of tokens covered by the union of
    // its cross-doc repeated 8-token spans — the amount a span-level
    // dedup pass removes. Positions ride the narrow frame as one extra
    // int (doc_id, start, hash64); the interval union needs no interval
    // tree: spans have EQUAL length 8, so ends are sorted with starts and
    // the union is one lag() window per doc (partitions bounded by doc
    // length, never corpus) — contribution = min(8, start − prev_start).
    QueryDef(
      "doc_span_cut",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i")
        // (doc_id, start, h) — NOT per-doc distinct: every occurrence of
        // a shared span gets cut, including repeats within one doc
        val pos = Q.fanWide(docs(s, dir)) // 8-gram md5 explode: fan the scan
          .filter(size(split(col("text"), " ")) >= 8)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), greatest(size(col("t")) - 7, lit(0))),
            i => struct(i.as("i"), Q.hash60(concat_ws(" ",
              (0 until 8).map(o => element_at(col("t"), i + o)): _*)).as("h"))))
            .as("p"))
          .select(col("doc_id"), col("p.i").as("i"), col("p.h").as("h"))
          .persist() // shared-set agg + the hit join both consume it
        // shared across >= 2 DISTINCT docs (a span repeated only within
        // one doc is self-repetition, doc_repetition's territory)
        val shared = pos.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("h")
        pos.join(shared, "h")
          .withColumn("c",
            when(lag(col("i"), 1).over(w).isNull, lit(8))
              .otherwise(least(lit(8), col("i") - lag(col("i"), 1).over(w))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"),
            sum(col("c")).cast("long").as("n_tokens_cut"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pos AS (
             SELECT doc_id,
               unnest(range(1, greatest(len(t) - 6, 1))) AS i,
               unnest([${Q.hash60Sql("array_to_string(t[i:i+7], ' ')")}
                 for i in range(1, greatest(len(t) - 6, 1))]) AS h
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             WHERE len(t) >= 8),
           shared AS (
             SELECT h FROM (
               SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY h)
             WHERE nd >= 2),
           hits AS (SELECT doc_id, i FROM pos JOIN shared USING (h)),
           cov AS (
             SELECT doc_id,
               CASE WHEN lag(i) OVER w IS NULL THEN 8
                    ELSE least(8, i - lag(i) OVER w) END AS c
             FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i))
           SELECT doc_id, count(*) AS n_hits,
             sum(c)::bigint AS n_tokens_cut
           FROM cov GROUP BY doc_id ORDER BY doc_id""")),

    // Variable-length MAXIMAL repeated-span mining — the exact Lee et al.
    // 2021 semantics that doc_repeated_spans/doc_span_cut approximate
    // with fixed 8-token windows: every emitted (doc, start, len) is a
    // repeated span (>= 2 corpus occurrences) that cannot be extended
    // left or right and still repeat (len clipped at MaxSpanCap — the
    // documented envelope). Algorithm + scale shape live in
    // [[graft.operators.MaximalSpans]] (candidate filter → capped-suffix
    // range sort → mapPartitions neighbor-LCP with partition-boundary
    // patch — the distributed equivalent of the paper's suffix array; no
    // document text ever shuffles). The oracle recomputes the same
    // definition from scratch in SQL: identical per-token hash alphabet,
    // one global suffix sort, neighbor LCP via list lambdas — suffix
    // order TIES are irrelevant by construction (LCP with an equal
    // window is the full capped length either way), which is what makes
    // the two engines' independent sorts comparable.
    QueryDef(
      "doc_maximal_spans",
      (s, dir) => {
        val d = Q.fanWide(docs(s, dir)) // md5-per-token over a 1-split scan
          .filter(size(split(col("text"), " ")) >= MaxSpanMin)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"),
            transform(col("t"), tok => Q.hash60(tok)).as("h0"))
        graft.operators.MaximalSpans
          .spans(d, MaxSpanMin, MaxSpanCap,
            s.sessionState.conf.numShufflePartitions)
          .orderBy("doc_id", "start")
      },
      Some(maximalSpansSql)),

    // Exact-substring CUT under the MAXIMAL-span policy — the removal
    // size of the Lee et al. dedup pass with variable-length spans (the
    // true-to-paper counterpart of doc_span_cut's fixed 8-token form):
    // per doc, tokens covered by the union of [p, p+lrs(p)) over every
    // candidate with lrs >= 8. Uses MaximalSpans.lrsFrame — NOT the
    // emitted clipped span list — so cap-saturated runs are covered in
    // full (every position in the run carries lrs = cap and the union
    // closes over it). Variable lengths make the interval union the
    // general gaps-and-islands running-max-end window (per-doc
    // partitions, exact integers).
    QueryDef(
      "doc_maximal_cut",
      (s, dir) => {
        val d = Q.fanWide(docs(s, dir)) // md5-per-token over a 1-split scan
          .filter(size(split(col("text"), " ")) >= MaxSpanMin)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"),
            transform(col("t"), tok => Q.hash60(tok)).as("h0"))
        graft.operators.MaximalSpans
          .cut(d, MaxSpanMin, MaxSpanCap,
            s.sessionState.conf.numShufflePartitions)
          .orderBy("doc_id")
      },
      Some(maximalCutSql)),

    // Sparse weighted-cosine document similarity — the SPARSE counterpart
    // to the dense ANN suite (`knn_*`): documents as tf·idf-weighted token
    // vectors, scored pairwise through an inverted index instead of
    // all-pairs. Determinism without logs (the engine-wide rule): the
    // inverse-document-frequency weight is the exact integer
    // (1000·N) div df; components, norms, and dots accumulate EXACTLY
    // (decimal(38) here, hugeint in the oracle — order-independent), and
    // the only doubles are the final sqrt/divide of exact integers,
    // floor-quantized to 1e-6 before ranking. Scale shape (same as
    // dedup_ngram_jaccard): the df ≤ 100 cap bounds candidate generation
    // to Σ df² NARROW rows (two ids + two int64 components), never n² and
    // never text; restricting the measure to rare tokens is also the
    // signal-correct choice — stopword-df tokens carry no similarity.
    QueryDef(
      "doc_sparse_knn",
      (s, dir) => {
        val tf = Q.fanWide(docs(s, dir)) // tokenize+explode on a 1-split scan
          .select(col("doc_id"), explode(toks).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .persist() // feeds df counts, N, and the component frame
        val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = tf.select(countDistinct(col("doc_id")).as("n"))
        val comp = tf.join(dfc.filter(col("df") <= 100), "tok")
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("tok"),
            expr("tf * ((1000 * n) div df)").as("x"))
          .persist() // norms + both sides of the index self-join
        val norms = comp.groupBy("doc_id")
          .agg(sum(col("x").cast("decimal(38,0)") * col("x")).as("n2"))
        val dots = comp.as("a")
          .join(comp.as("b"), col("a.tok") === col("b.tok") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.x").cast("decimal(38,0)") * col("b.x")).as("dot"))
        dots
          .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na2")), "id_a")
          .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb2")), "id_b")
          .withColumn("cos_q", floor(
            col("dot").cast("double") /
              (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))
              * 1e6).cast("long"))
          .filter(col("cos_q") >= 100000)
          .orderBy(col("cos_q").desc, col("id_a"), col("id_b"))
          .limit(20)
          .select("id_a", "id_b", "cos_q")
      },
      Some("""WITH tf AS (
             SELECT doc_id, tok, count(*) AS tf
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
             GROUP BY doc_id, tok),
           dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
           n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
           comp AS (
             SELECT doc_id, tok, tf * ((1000 * n.n) // df) AS x
             FROM tf JOIN dfc USING (tok) CROSS JOIN n
             WHERE df <= 100),
           norms AS (
             SELECT doc_id, sum(x::hugeint * x) AS n2 FROM comp GROUP BY doc_id),
           dots AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(a.x::hugeint * b.x) AS dot
             FROM comp a JOIN comp b
               ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
           SELECT id_a, id_b, cos_q FROM (
             SELECT id_a, id_b,
               floor(dot::double /
                 (sqrt(na.n2::double) * sqrt(nb.n2::double)) * 1e6)::bigint AS cos_q
             FROM dots JOIN norms na ON dots.id_a = na.doc_id
                       JOIN norms nb ON dots.id_b = nb.doc_id)
           WHERE cos_q >= 100000
           ORDER BY cos_q DESC, id_a, id_b LIMIT 20""")),

    // Collocation mining: top bigrams by LIFT — the vocabulary-induction /
    // tokenizer-merge primitive. Determinism without logs (libm log is
    // not cross-engine bit-stable): lift = (c_ab·N) / (c_a·c_b), exact
    // 64-bit integer products, ONE double division. Corpus-wide counts
    // are two explode+groupBy passes (map-side combinable, narrow rows);
    // the unigram join is a broadcast at any realistic vocab size.
    QueryDef(
      "doc_bigram_lift",
      (s, dir) => {
        // persisted: unigram/total/bigram passes share the tokenized
        // frame; released by the runner (QueryDef lifecycle contract)
        val d = docs(s, dir).select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) >= 2).persist()
        val uni = d.select(explode(col("t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        // (r16: n = uni.agg(sum(c)) measured worse — 332→367 ms, same
        // vocab-final-agg recompute as doc_unigram_nll's tot; kept the
        // direct corpus pass)
        val n = d.agg(Q.dsum(size(col("t")).cast("long")).cast("long").as("n_tok"))
        val bi = d
          .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
          .select(element_at(col("t"), col("i")).as("w1"),
            element_at(col("t"), col("i") + 1).as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        bi.join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_a")), "w1")
          .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b")), "w2")
          .crossJoin(broadcast(n))
          .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
            col("c_ab"),
            ((col("c_ab") * col("n_tok")).cast("double") /
              (col("c_a") * col("c_b")).cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("bigram"))
          .limit(20)
      },
      Some("""WITH d AS (
               SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
             uni AS (SELECT unnest(t) AS w FROM d),
             uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
             n AS (SELECT sum(len(t))::bigint AS n_tok FROM d),
             bp AS (SELECT t[i] AS w1, t[i+1] AS w2
                    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM d)),
             bc AS (SELECT w1, w2, count(*) AS c_ab FROM bp
                    GROUP BY w1, w2 HAVING count(*) >= 5)
             SELECT w1 || ' ' || w2 AS bigram, c_ab,
               (c_ab * n_tok)::double / (ca.c * cb.c)::double AS lift
             FROM bc JOIN uc ca ON ca.w = w1
                     JOIN uc cb ON cb.w = w2
                     CROSS JOIN n
             ORDER BY lift DESC, bigram LIMIT 20""")),

    // Repetition signals (Gopher-style quality rules): duplicate-token
    // fraction, most-common-token share, duplicate-3-gram fraction. All
    // in-row higher-order array ops — a pure map over the corpus, no
    // shuffle; each ratio is ONE double division of exact ints.
    QueryDef(
      "doc_repetition",
      (s, dir) => {
        val base = docs(s, dir)
          .filter(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val g3 = transform(
          sequence(lit(1), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2)))
        val withG = base.select(col("doc_id"), col("t"), g3.as("g3"))
        val n = size(col("t"))
        withG.select(
          col("doc_id"),
          ((n - size(array_distinct(col("t")))).cast("double") / n)
            .as("dup_tok_frac"),
          (array_max(transform(array_distinct(col("t")),
            u => size(filter(col("t"), x => x === u)))).cast("double") / n)
            .as("top_tok_frac"),
          ((size(col("g3")) - size(array_distinct(col("g3")))).cast("double") /
            size(col("g3"))).as("dup_3gram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
               SELECT doc_id, string_split(text,' ') AS t FROM documents
               WHERE len(string_split(text,' ')) >= 3),
             g AS (SELECT doc_id, t,
               [array_to_string(t[i:i+2], ' ')
                 for i in range(1, len(t) - 1)] AS g3 FROM d)
             SELECT doc_id,
               (len(t) - len(list_distinct(t)))::double / len(t) AS dup_tok_frac,
               list_max(list_transform(list_distinct(t),
                 u -> len(list_filter(t, x -> x = u))))::double / len(t)
                 AS top_tok_frac,
               (len(g3) - len(list_distinct(g3)))::double / len(g3)
                 AS dup_3gram_frac
             FROM g ORDER BY doc_id""")),

    // TF-IDF top terms per document. Determinism without libm logs: score
    // is the exact integer (tf · N · 1e6) div df (all positive → identical
    // truncation in both engines). df and N are corpus-wide narrow aggs —
    // the vocabulary table broadcasts at any realistic size; tf is one
    // explode + map-side-combinable groupBy.
    QueryDef(
      "doc_tfidf_top",
      (s, dir) => {
        val d = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val tf = d.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val df = d.distinct().groupBy("w").agg(count(lit(1)).as("df"))
        val nd = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score_q").desc, col("w"))
        tf.join(broadcast(df), "w")
          .crossJoin(broadcast(nd))
          .withColumn("score_q", expr("tf * n_docs * 1000000 div df"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("w").as("token"), col("tf"),
            col("score_q"), col("rk"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH d AS (
               SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
             tf AS (SELECT doc_id, w, count(*) AS tf FROM d GROUP BY 1, 2),
             df AS (SELECT w, count(*) AS df
                    FROM (SELECT DISTINCT doc_id, w FROM d) GROUP BY w),
             nd AS (SELECT count(*) AS n_docs FROM documents),
             ranked AS (
               SELECT doc_id, w, tf, (tf * n_docs * 1000000) // df AS score_q,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY (tf * n_docs * 1000000) // df DESC, w) AS rk
               FROM tf JOIN df USING (w) CROSS JOIN nd)
             SELECT doc_id, w AS token, tf, score_q, rk
             FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // Unigram-LM document scoring — the CCNet/perplexity-filter family:
    // train a unigram LM on the corpus (token counts), score every doc by
    // its negative log-likelihood under it. Two determinism regimes in one
    // query: `code_bits` is the EXACT Shannon code length Σ⌈log2(t/c)⌉ —
    // pure integer arithmetic via ceil(log2(ceil-ratio)) = length(bin((t-1)
    // div c)), bit-stable by construction; `nll_q` is ln-based surprisal
    // quantized at 1e-4 nats — libm ln differs across engines by ≤1 ulp on
    // ~1e-4 of inputs (measured: 2/28572 at 1 ulp), so a 1e-4 grid puts
    // the flip probability per VOCAB entry at ~1e-11: the quantization IS
    // the cross-engine contract. Scale shape: surprisal is computed once
    // per vocab entry (not per occurrence), the vocab broadcasts, the
    // per-doc agg is one map-side-combinable groupBy on doc_id.
    QueryDef(
      "doc_unigram_nll",
      (s, dir) => {
        val d = docs(s, dir)
          .select(col("doc_id"), explode(toks).as("w"))
        val cnt = d.groupBy("w").agg(count(lit(1)).as("c"))
        // (r16: tot = cnt.agg(sum(c)) measured worse — 312→494 ms; the
        // corpus re-scan + map-side count is cheaper than re-running the
        // vocab-sized final aggregate above the reused exchange)
        val tot = d.agg(count(lit(1)).as("t"))
        val vocab = cnt.crossJoin(broadcast(tot))
          .select(col("w"),
            expr("case when c = t then 0L " +
              "else cast(length(bin((t - 1) div c)) as bigint) end").as("bits"),
            floor(log(col("t").cast("double") / col("c").cast("double"))
              * 10000).as("s_q"))
        d.join(broadcast(vocab), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum("bits").as("code_bits"),
            sum("s_q").as("nll_q"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
               SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             cnt AS (SELECT w, count(*) AS c FROM d GROUP BY w),
             tot AS (SELECT count(*) AS t FROM d),
             v AS (SELECT w,
                     CASE WHEN c = t THEN 0
                          ELSE length(bin((t - 1) // c)) END AS bits,
                     floor(ln(t::double / c::double) * 10000)::bigint AS s_q
                   FROM cnt CROSS JOIN tot)
             SELECT doc_id, count(*) AS n_tok,
               sum(bits)::bigint AS code_bits, sum(s_q)::bigint AS nll_q
             FROM d JOIN v USING (w)
             GROUP BY doc_id ORDER BY doc_id""")),

    // Bigram-LM scoring — the next rung of the perplexity-filter ladder:
    // conditional surprisal −ln p(w2|w1) with p = c(w1,w2)/c1(w1), summed
    // per doc (c1 counts w1 as a bigram FIRST, so probabilities are a
    // proper conditional distribution and every scored bigram has
    // c12 ≥ 1 — no smoothing needed when scoring the training corpus).
    // Same two determinism regimes as doc_unigram_nll. The bigram model
    // table is vocab²-bounded but df-like in practice (observed bigrams
    // only); it broadcasts here and would shuffle-join on (w1,w2) at
    // larger vocabularies — either way the per-doc agg stays one
    // map-side-combinable groupBy.
    QueryDef(
      "doc_bigram_nll",
      (s, dir) => {
        // persisted: model-count and per-doc passes share the tokenized
        // frame; released by the runner (QueryDef lifecycle contract)
        val d = docs(s, dir).select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) >= 2).persist()
        val bg = d
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
          .select(col("doc_id"), element_at(col("t"), col("i")).as("w1"),
            element_at(col("t"), col("i") + 1).as("w2"))
        val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        // (r16: c1 = c12 rolled up over w2 measured much worse — 567 ms →
        // 1.1-1.6 s: the bigram re-explode off the persisted d is cheap
        // and its groupBy(w1) reduces map-side, while the rollup re-runs
        // c12's bigram-vocab-sized final aggregate and adds an exchange)
        val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        val model = c12.join(c1, "w1")
          .select(col("w1"), col("w2"),
            expr("case when c12 = c1 then 0L " +
              "else cast(length(bin((c1 - 1) div c12)) as bigint) end").as("bits"),
            floor(log(col("c1").cast("double") / col("c12").cast("double"))
              * 10000).as("s_q"))
        bg.join(broadcast(model), Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_big"),
            sum("bits").as("code_bits"),
            sum("s_q").as("nll_q"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
               SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
             bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                    FROM (SELECT doc_id, t,
                            unnest(generate_series(1, len(t) - 1)) AS i FROM d)),
             c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
             c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
             m AS (SELECT w1, w2,
                     CASE WHEN c12 = c1 THEN 0
                          ELSE length(bin((c1 - 1) // c12)) END AS bits,
                     floor(ln(c1::double / c12::double) * 10000)::bigint AS s_q
                   FROM c12 JOIN c1 USING (w1))
             SELECT doc_id, count(*) AS n_big,
               sum(bits)::bigint AS code_bits, sum(s_q)::bigint AS nll_q
             FROM bg JOIN m USING (w1, w2)
             GROUP BY doc_id ORDER BY doc_id""")),

    // EXACT quantiles of a discrete distribution at scale — the
    // dataset-profiling primitive (length cutoffs for filtering, packing
    // bin sizing). The 100-TB plan: never sort the corpus — build the
    // VALUE HISTOGRAM (shuffle is distinct-value-sized, map-side
    // combinable), cumulative-sum the tiny histogram frame (the only
    // unpartitioned window, over |distinct lengths| rows), and pick each
    // percentile as the smallest value whose cumulative count reaches
    // ceil(pct·n/100) — percentile_disc semantics built from the same
    // integer rank formula on both engines (no reliance on either
    // engine's quantile built-in agreeing about interpolation).
    QueryDef(
      "doc_len_quantiles",
      (s, dir) => {
        import s.implicits._
        val lens = docs(s, dir).select(size(toks).as("len"))
        val h = lens.groupBy("len").agg(count(lit(1)).as("c"))
        val cum = h.withColumn("cum", sum("c").over(
          org.apache.spark.sql.expressions.Window.orderBy("len")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        val n = lens.agg(count(lit(1)).as("n"))
        Seq(25, 50, 75, 90, 99).toDF("pct")
          .crossJoin(broadcast(n))
          .join(cum, expr("cum >= (pct * n + 99) div 100"))
          .groupBy("pct").agg(min("len").as("len"))
          .orderBy("pct")
      },
      Some("""WITH lens AS (
               SELECT len(string_split(text, ' ')) AS len FROM documents),
             h AS (SELECT len, count(*) AS c FROM lens GROUP BY len),
             cum AS (SELECT len, sum(c) OVER (ORDER BY len
                       ROWS UNBOUNDED PRECEDING) AS cum FROM h),
             n AS (SELECT count(*) AS n FROM lens),
             p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
             SELECT pct, min(len) AS len
             FROM p CROSS JOIN n JOIN cum ON cum >= (pct * n + 99) // 100
             GROUP BY pct ORDER BY pct""")),

    // Token-budget apportionment across domains — the mixture-planning
    // step before sampling a training corpus: split a B=1e6-token budget
    // over languages (a) proportionally with LARGEST-REMAINDER (Hamilton)
    // rounding, so allocations are integers that sum to exactly B, and
    // (b) sqrt-TEMPERATURE reweighted (the standard low-resource-upweight
    // policy), as floor(B·√t_l / Σ√t). Exact cross-engine: shares are
    // integer div/mod of exact token counts; √ is IEEE-correctly-rounded
    // (the one libm-stable function), quantized to integer micro-units
    // BEFORE the cross-domain sum. Scale: one map-side-combinable groupBy
    // on lang; everything after runs on the domain-sized frame.
    QueryDef(
      "doc_token_budget",
      (s, dir) => {
        val B = 1000000L
        val per = docs(s, dir).select(col("lang"), size(toks).as("n"))
          .groupBy("lang").agg(sum(col("n").cast("long")).as("t"))
          .withColumn("sq", floor(sqrt(col("t").cast("double")) * 1000000))
        val tots = per.agg(sum("t").as("tt"), sum("sq").as("stot"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(expr(s"(${B}L * t) % tt").desc, col("lang"))
        per.crossJoin(broadcast(tots))
          .withColumn("f", expr(s"${B}L * t div tt"))
          .withColumn("rn", row_number().over(w))
          .withColumn("ftot", sum("f").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .select(col("lang"), col("t"),
            (col("f") + when(col("rn") <= lit(B) - col("ftot"), 1L)
              .otherwise(0L)).as("alloc"),
            expr(s"${B}L * sq div stot").as("alloc_t"))
          .orderBy("lang")
      },
      Some("""WITH per AS (
               SELECT lang, sum(len(string_split(text, ' ')))::bigint AS t
               FROM documents GROUP BY lang),
             pq AS (SELECT lang, t,
                      floor(sqrt(t::double) * 1000000)::bigint AS sq FROM per),
             tots AS (SELECT sum(t)::bigint AS tt, sum(sq)::bigint AS stot FROM pq),
             ranked AS (
               SELECT lang, t, sq, tt, stot,
                 (1000000 * t) // tt AS f,
                 row_number() OVER (
                   ORDER BY (1000000 * t) % tt DESC, lang) AS rn,
                 sum((1000000 * t) // tt) OVER () AS ftot
               FROM pq CROSS JOIN tots)
             SELECT lang, t,
               (f + CASE WHEN rn <= 1000000 - ftot THEN 1 ELSE 0 END)::bigint
                 AS alloc,
               ((1000000 * sq) // stot)::bigint AS alloc_t
             FROM ranked ORDER BY lang""")),

    // HELD-OUT perplexity — the real CCNet deployment shape: the LM is
    // trained on the train split (doc_split's hash-range assignment,
    // leak-free by construction) and scores the TEST split, where unseen
    // words exist, so smoothing matters: add-one over (T + V) gives OOV
    // tokens the 1/(T+V) floor. Same quantized-ln contract as
    // doc_unigram_nll (the surprisal here is evaluated per test-token
    // occurrence after the broadcast vocab left-join — OOV rows have no
    // vocab entry to precompute on). n_oov per doc is the standard
    // secondary quality gate.
    QueryDef(
      "doc_heldout_ppl",
      (s, dir) => {
        val withSplit = docs(s, dir).withColumn("h",
          Q.hash60(concat(lit("split|"), col("doc_id"))) % 100)
        val cnt = withSplit.filter(col("h") < 80)
          .select(explode(toks).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val stats = cnt.agg(sum("c").as("tt"), count(lit(1)).as("vv"))
        withSplit.filter(col("h") >= 90)
          .select(col("doc_id"), explode(toks).as("w"))
          .join(broadcast(cnt), Seq("w"), "left")
          .crossJoin(broadcast(stats))
          .withColumn("cw", coalesce(col("c"), lit(0L)))
          .withColumn("s_q", floor(log(
            (col("tt") + col("vv")).cast("double") /
              (col("cw") + 1).cast("double")) * 10000))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("cw") === 0, 1).otherwise(0)).as("n_oov"),
            sum("s_q").as("nll_q"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
               SELECT doc_id, text,
                 ${Q.hash60Sql("'split|' || doc_id")} % 100 AS h
               FROM documents),
             tr AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM d WHERE h < 80),
             cnt AS (SELECT w, count(*) AS c FROM tr GROUP BY w),
             st AS (SELECT sum(c)::bigint AS tt, count(*) AS vv FROM cnt),
             te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM d WHERE h >= 90)
             SELECT doc_id, count(*) AS n_tok,
               sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END)::bigint AS n_oov,
               sum(floor(ln((tt + vv)::double /
                 (coalesce(c, 0) + 1)::double) * 10000)::bigint)::bigint
                 AS nll_q
             FROM te LEFT JOIN cnt USING (w) CROSS JOIN st
             GROUP BY doc_id ORDER BY doc_id""")),

    // Per-group exact quantiles: the doc_len_quantiles histogram plan
    // with the group key carried through — the cumsum window partitions
    // BY LANG (parallel across groups, each over its own tiny value
    // histogram), so the profile of every domain comes out of one pass.
    QueryDef(
      "doc_len_quantiles_by_lang",
      (s, dir) => {
        import s.implicits._
        val lens = docs(s, dir)
          .select(col("lang"), size(toks).as("len"))
        val cum = lens.groupBy("lang", "len").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")
              .orderBy("len")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        val tgt = lens.groupBy("lang").agg(count(lit(1)).as("n"))
          .crossJoin(Seq(25, 50, 75, 90, 99).toDF("pct"))
          .withColumn("rk", expr("(pct * n + 99) div 100"))
        tgt.join(cum, Seq("lang")).filter(col("cum") >= col("rk"))
          .groupBy("lang", "pct").agg(min("len").as("len"))
          .orderBy("lang", "pct")
      },
      Some("""WITH lens AS (
               SELECT lang, len(string_split(text, ' ')) AS len FROM documents),
             cum AS (SELECT lang, len, sum(count(*)) OVER (PARTITION BY lang
                       ORDER BY len ROWS UNBOUNDED PRECEDING) AS cum
                     FROM lens GROUP BY lang, len),
             tgt AS (SELECT lang, pct, (pct * n + 99) // 100 AS rk
                     FROM (SELECT lang, count(*) AS n FROM lens GROUP BY lang)
                     CROSS JOIN (SELECT unnest([25, 50, 75, 90, 99]) AS pct))
             SELECT lang, pct, min(len) AS len
             FROM tgt JOIN cum USING (lang)
             WHERE cum >= rk
             GROUP BY lang, pct ORDER BY lang, pct""")),

    // Stratified (per-language capped) sampling: deterministic hash order
    // within each stratum, row_number cap — the balanced-mix primitive for
    // domain/language reweighting. One shuffle on the stratum key; the
    // per-stratum sort is the windowed top-k every engine does well.
    QueryDef(
      "doc_sample_stratified",
      (s, dir) => {
        val h = Q.hash60(concat(lit("strat|"), col("doc_id")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
        docs(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("doc_id"), col("lang"), col("rn"))
          .orderBy("lang", "rn")
      },
      Some(s"""SELECT doc_id, lang, rn FROM (
               SELECT doc_id, lang, row_number() OVER (
                 PARTITION BY lang
                 ORDER BY ${Q.hash60Sql("'strat|' || doc_id")}, doc_id) AS rn
               FROM documents)
             WHERE rn <= 20 ORDER BY lang, rn""")),

    // PII / denylist scrubbing: one combined alternation handles the
    // email-shaped and phone-shaped patterns plus a denylist of sensitive
    // terms ("customer"/"order" stand in on this synthetic corpus — the
    // emails/phones the regex would catch in real data don't occur here).
    // Pure per-row regex map, zero shuffle; both engines run the same
    // RE2-safe pattern (no backrefs/lookaround).
    QueryDef(
      "doc_pii_redact",
      (s, dir) => {
        val pat = "\\b(customer|order)\\b" +
          "|[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" +
          "|\\+?[0-9][0-9()\\- ]{6,}[0-9]"
        val red = regexp_replace(col("text"), pat, "<PII>")
        docs(s, dir).select(
          col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_redacted"),
          length(red).cast("long").as("n_chars_red"),
          Q.hash60(red).as("red_fp"))
          .orderBy("doc_id")
      },
      Some {
        val pat = """\b(customer|order)\b""" +
          """|[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}""" +
          """|\+?[0-9][0-9()\- ]{6,}[0-9]"""
        s"""SELECT doc_id,
           len(regexp_extract_all(text, '$pat'))::bigint AS n_redacted,
           length(regexp_replace(text, '$pat', '<PII>', 'g'))::bigint
             AS n_chars_red,
           ${Q.hash60Sql(s"regexp_replace(text, '$pat', '<PII>', 'g')")} AS red_fp
           FROM documents ORDER BY doc_id"""
      }),

    // Exact heavy-hitter tokens (> 3.3% of all token occurrences) via
    // operators.HeavyHitters: pass 1 = bounded Misra-Gries candidate sketch
    // (map-side combinable, ≤k counters cross the wire), pass 2 = exact
    // recount of candidates only. The sketch PRUNES, the recount DECIDES —
    // so the oracle is plain exact SQL and the threshold compare stays
    // integral (cnt*1000 > N*33: no float at the boundary). At 100 TB this
    // is the shape that avoids hash-aggregating an unbounded token universe.
    QueryDef(
      "doc_heavy_tokens",
      (s, dir) => {
        val tokens = docs(s, dir).select(explode(toks).as("token"))
        graft.operators.HeavyHitters.exact(tokens, "token",
          phiNum = 33, phiDen = 1000, k = 64)
      },
      Some("""WITH toks AS (
               SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             n AS (SELECT count(*) AS n FROM toks)
             SELECT token, count(*) AS cnt
             FROM toks, n GROUP BY token, n.n
             HAVING count(*)*1000 > n.n*33""")),

    // Single-pass data-quality audit (operators.Quality): four Deequ-style
    // constraints — completeness, key uniqueness, a row predicate, and a
    // cross-column consistency invariant — computed in ONE aggregation
    // over one scan. Verdicts compare integer metric pairs (num*rd >=
    // den*rn), so pass/fail is bit-stable and SQL-expressible.
    QueryDef(
      "doc_quality_audit",
      (s, dir) => {
        import graft.operators.Quality._
        audit(docs(s, dir), Seq(
          complete("text_complete", col("text"), 1, 1),
          unique("doc_id_unique", col("doc_id"), 1, 1),
          satisfies("n_chars_positive", col("n_chars") > 0, 999, 1000),
          satisfies("n_chars_consistent",
            length(col("text")) === col("n_chars"), 1, 1)))
          .orderBy("check_name")
      },
      Some("""WITH m AS (SELECT
               count(text) AS n0, count(*) AS d0,
               count(DISTINCT doc_id) AS n1, count(*) AS d1,
               count(CASE WHEN n_chars > 0 THEN 1 END) AS n2, count(*) AS d2,
               count(CASE WHEN length(text) = n_chars THEN 1 END) AS n3,
               count(*) AS d3
             FROM documents)
             SELECT * FROM (
               SELECT 'text_complete' AS check_name, n0 AS num, d0 AS den,
                      n0*1 >= d0*1 AS pass FROM m
               UNION ALL
               SELECT 'doc_id_unique', n1, d1, n1*1 >= d1*1 FROM m
               UNION ALL
               SELECT 'n_chars_positive', n2, d2, n2*1000 >= d2*999 FROM m
               UNION ALL
               SELECT 'n_chars_consistent', n3, d3, n3*1 >= d3*1 FROM m)
             ORDER BY check_name""")),

    // Context-window chunking: split each document into fixed-size token
    // chunks with overlap (size 50, stride 40) — the precursor to sequence
    // packing in an LLM training pipeline. Pure map + explode (row counts
    // grow by len/stride, never quadratic), chunk identity pinned by a
    // cross-engine fingerprint of the joined tokens. Start sets agree by
    // construction: Spark's inclusive sequence(0, len-1, 40) ≡ DuckDB's
    // exclusive range(0, len, 40) for len >= 1.
    QueryDef(
      "doc_chunks",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), Q.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0),
              greatest(size(col("toks")) - 1, lit(0)), lit(40))).as("start"))
          .select(col("doc_id"),
            (col("start") / 40).cast("long").as("chunk_idx"),
            slice(col("toks"), col("start") + 1, lit(50)).as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("n_tok"),
            Q.hash60(concat_ws(" ", col("chunk"))).as("fp"))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH t AS (
               SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             st AS (
               SELECT doc_id, toks,
                      unnest(range(0, greatest(len(toks), 1), 40)) AS start
               FROM t)
             SELECT doc_id, start//40 AS chunk_idx,
               len(list_slice(toks, start+1, start+50))::bigint AS n_tok,
               ${Q.hash60Sql("array_to_string(list_slice(toks, start+1, start+50), ' ')")} AS fp
             FROM st ORDER BY doc_id, chunk_idx""")),

    // SEQUENCE PACKING with boundary/position columns (operators.Packing;
    // VERDICT r5 #6) — the training-batch construction step: docs shard
    // by a cross-engine md5 hash, pack next-fit-decreasing into 512-token
    // bins inside each shard, and every bin reports doc count, token
    // fill, the fingerprint of its DOC-BOUNDARY offsets (prefix sums of
    // lens in pack order — what Packing.binArrays expands into
    // position_ids/segment_ids for the dataloader, law-tested in
    // PackingSpec), and the exact position-id sum. Scale shape: packing
    // is a sorted-group ITERATOR per shard (no driver state, shard count
    // scales with the corpus); the boundary window partitions by bin
    // (≤ capacity tokens). The oracle replays the identical next-fit
    // fold as a per-shard recursive CTE — every recursion level advances
    // EVERY shard by one item, so depth = largest shard, not corpus.
    QueryDef(
      "doc_seq_pack",
      (s, dir) => {
        val cap = 512
        val items = docs(s, dir).select(
          pmod(Q.hash60(concat(lit("pack|"), col("doc_id"))), lit(32))
            .cast("int").as("shard"),
          col("doc_id").as("id"),
          size(split(col("text"), " ")).as("len"))
        val packed = graft.operators.Packing.nextFitDecreasingSharded(items, cap)
        graft.operators.Packing.withOffsets(packed)
          .groupBy("shard", "bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("len")).cast("long").as("n_tokens"),
            Q.hash60(concat_ws(" ",
              transform(sort_array(collect_list(struct(col("start"), col("id")))),
                x => x.getField("start").cast("string")))).as("bounds_fp"),
            sum(expr("CAST(len AS BIGINT) * (len - 1) DIV 2")).as("pos_sum"))
          .orderBy("shard", "bin")
      },
      Some(nfdPackSql("len DESC, id"))),

    // First-fit-decreasing packing with a bounded open-bin ring (VERDICT
    // r6 #7): same sharded corpus as doc_seq_pack, but each shard keeps 4
    // candidate bins live (still O(1) state) — the utilization upgrade
    // over NFD's single open bin (PackingSpec gates ≥90% mean on the
    // fixture vs NFD's ≥80%). The oracle replays the EXACT placement
    // machine: a recursive CTE whose per-shard state row carries the ring
    // (4 bin-id/fill pairs + counter), generated from the same (ring,
    // capacity) constants the Scala operator uses.
    QueryDef(
      "doc_seq_pack_ffd",
      (s, dir) => {
        val items = docs(s, dir).select(
          pmod(Q.hash60(concat(lit("pack|"), col("doc_id"))), lit(32))
            .cast("int").as("shard"),
          col("doc_id").as("id"),
          size(split(col("text"), " ")).as("len"))
        graft.operators.Packing
          .firstFitDecreasingSharded(items, FfdCap, FfdRing)
          .groupBy("shard", "bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("len")).cast("long").as("n_tokens"),
            Q.hash60(concat_ws(" ",
              transform(sort_array(collect_list(struct(col("start"), col("id")))),
                x => x.getField("start").cast("string")))).as("bounds_fp"),
            sum(expr("CAST(len AS BIGINT) * (len - 1) DIV 2")).as("pos_sum"))
          .orderBy("shard", "bin")
      },
      Some(ffdPackSql(FfdRing, FfdCap))),

    // STREAMING sequence packing — the same training-batch construction
    // at INGEST time (streaming.StreamPacking): a stream cannot sort the
    // future, so the live form packs in ARRIVAL order with O(1) state per
    // shard forever (the open bin's id + fill — bins close implicitly, no
    // contents buffered). Two id-ordered halves prove open bins continue
    // across the micro-batch boundary. The oracle replays the identical
    // arrival-order next-fit fold (the doc_seq_pack recursive CTE with
    // the within-shard order swapped from len-desc to id).
    QueryDef(
      "stream_seq_pack",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.docsHalves(s, dir)
        val schema = StreamFixtures.docsHalvesSchema(s, dir)
        // batch 1: low-id half; batch 2: open bins keep filling
        StreamHarness.drainFeed(fx, Seq("lo", "hi"), "complete") { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(
              pmod(Q.hash60(concat(lit("pack|"), col("doc_id"))), lit(32))
                .cast("int").as("shard"),
              col("doc_id").as("id"),
              size(split(col("text"), " ")).as("len"))
            .as[graft.streaming.PackItem]
          val packed = graft.streaming.StreamPacking.nextFit(src, 512).toDF()
          packed.groupBy("shard", "bin")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("len")).cast("long").as("n_tokens"),
              Q.hash60(concat_ws(" ",
                transform(sort_array(collect_list(struct(col("start"), col("id")))),
                  x => x.getField("start").cast("string")))).as("bounds_fp"),
              sum(expr("CAST(len AS BIGINT) * (len - 1) DIV 2")).as("pos_sum"))
        }.orderBy("shard", "bin")
      },
      Some(nfdPackSql("id"))),

    // 100×-gate twins of doc_seq_pack_ffd / stream_seq_pack (VERDICT r12
    // #2): the SAME operators, restricted to ONE of the 32 hash shards.
    // Items per shard — the recursion depth, the dimension that grows
    // with corpus scale — is identical to the full query's (uniform
    // shard hash); only the independent-chain COUNT is sampled, which is
    // what made the r12 oracle legs grind past the round boundary (the
    // DuckDB recursive join re-scans the full item frame per step ×32
    // chains). Gated tri-scale like everything else; at 100× these are
    // the feasible oracle legs for the packing family.
    QueryDef(
      "doc_seq_pack_ffd_s0",
      (s, dir) => {
        val items = docs(s, dir).select(
          pmod(Q.hash60(concat(lit("pack|"), col("doc_id"))), lit(32))
            .cast("int").as("shard"),
          col("doc_id").as("id"),
          size(split(col("text"), " ")).as("len"))
          .filter(col("shard") === 0)
        graft.operators.Packing
          .firstFitDecreasingSharded(items, FfdCap, FfdRing)
          .groupBy("shard", "bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("len")).cast("long").as("n_tokens"),
            Q.hash60(concat_ws(" ",
              transform(sort_array(collect_list(struct(col("start"), col("id")))),
                x => x.getField("start").cast("string")))).as("bounds_fp"),
            sum(expr("CAST(len AS BIGINT) * (len - 1) DIV 2")).as("pos_sum"))
          .orderBy("shard", "bin")
      },
      Some(ffdPackSql(FfdRing, FfdCap, Some(0)))),

    QueryDef(
      "stream_seq_pack_s0",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        import s.implicits._
        val fx = StreamFixtures.docsHalves(s, dir)
        val schema = StreamFixtures.docsHalvesSchema(s, dir)
        // batch 1: low-id half; batch 2: open bins keep filling
        StreamHarness.drainFeed(fx, Seq("lo", "hi"), "complete") { srcDir =>
          val src = s.readStream.schema(schema).parquet(srcDir)
            .select(
              pmod(Q.hash60(concat(lit("pack|"), col("doc_id"))), lit(32))
                .cast("int").as("shard"),
              col("doc_id").as("id"),
              size(split(col("text"), " ")).as("len"))
            .filter(col("shard") === 0)
            .as[graft.streaming.PackItem]
          val packed = graft.streaming.StreamPacking.nextFit(src, 512).toDF()
          packed.groupBy("shard", "bin")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("len")).cast("long").as("n_tokens"),
              Q.hash60(concat_ws(" ",
                transform(sort_array(collect_list(struct(col("start"), col("id")))),
                  x => x.getField("start").cast("string")))).as("bounds_fp"),
              sum(expr("CAST(len AS BIGINT) * (len - 1) DIV 2")).as("pos_sum"))
        }.orderBy("shard", "bin")
      },
      Some(nfdPackSql("id", Some(0)))),

    // ---- Audio pipeline: the REAL WAV codec under the driver gate -----
    // Spark synthesizes deterministic PCM, encodes genuine WAV containers,
    // decodes them back through the real javax.sound path and fingerprints
    // the samples (Haitsma-Kalker energy deltas). The oracle recomputes the
    // identical fingerprint from the same integer formula, so this verifies
    // the whole encode -> decode -> fingerprint chain bit-exactly. Blobs
    // never shuffle; 16 bytes leave each clip.
    // Image perceptual hash (aHash) over REAL PNG decode — the image
    // column's 64-bit signature, computed partition-local (blobs never
    // shuffle, 16 bytes out per image). The oracle recomputes the hash
    // from the shared pixel formula — the PNG round trip is lossless.
    QueryDef(
      "mm_image_phash",
      (s, dir) =>
        Codecs.imageHashes(imageClips(s, dir)).toDF("id", "phash")
          .orderBy("id"),
      Some(s"""$imageFpCte SELECT id, phash FROM ph ORDER BY id""")),

    // Image near-dup pairs through the shared 4×16-bit Hamming-banded
    // core (pigeonhole-exact at distance ≤ 3) — same-group fixtures
    // differ by one ≤3-luma pixel, so re-encodes land within a few bits.
    QueryDef(
      "mm_image_neardup",
      (s, dir) =>
        Codecs.imageNearDups(imageClips(s, dir), 3).orderBy("id_a", "id_b"),
      Some(s"""$imageFpCte
             SELECT a.id AS id_a, b.id AS id_b
             FROM ph a JOIN ph b
               ON a.id < b.id AND bit_count(xor(a.phash, b.phash)) <= 3
             ORDER BY id_a, id_b""")),

    // Ingest-time image fingerprinting: the aHash computed INSIDE the
    // arriving micro-batch (partition-local mapPartitions on the
    // streaming Dataset — blobs never shuffle, zero streaming state),
    // completing the at-ingest story across modalities (text:
    // stream_bpe_encode, vectors: stream_ivf_append, monitoring:
    // stream_drift_kl). Oracle identical to mm_image_phash — the stream
    // replays the same fixture corpus.
    QueryDef(
      "stream_image_phash",
      (s, dir) => StreamHarness.withShufflePartitions(s, StreamHarness.StreamPartitions) {
        implicit val enc: Encoder[Multimodal.MediaRow] =
          Encoders.product[Multimodal.MediaRow]
        imageClips(s, dir) // ensure the fixture parquet exists
        val root = MediaFixtures.rootOf(dir, "image")
        val schema = graft.core.Tables.cachedSchema(s, root)
        val src = s.readStream.schema(schema).parquet(root)
          .as[Multimodal.MediaRow]
        val hashed = Codecs.imageHashes(src).toDF("id", "phash")
        StreamHarness.drain(hashed).orderBy("id")
      },
      Some(s"""$imageFpCte SELECT id, phash FROM ph ORDER BY id""")),

    QueryDef(
      "mm_audio_fp",
      (s, dir) =>
        Codecs.audioHashes(audioClips(s, dir)).toDF("id", "fp").orderBy("id"),
      Some(s"""$audioFpCte SELECT id, fp FROM fp ORDER BY id""")),

    // Audio near-dup pairs: same 4x16-bit Hamming banding as the image
    // aHash path (pigeonhole-exact at distance <= 3), exact bit_count
    // verify on narrow rows. The oracle compares all fingerprint pairs
    // with the same predicate — identical sets, because the banding has
    // perfect recall at distance <= 3. Near-dup clusters are the
    // 8-doc-id cohorts of the fixture, so the pair count grows LINEARLY
    // with the corpus (the sf1-gate fixture fix).
    QueryDef(
      "mm_audio_neardup",
      (s, dir) =>
        Codecs.audioNearDups(audioClips(s, dir), 3).orderBy("id_a", "id_b"),
      Some(s"""$audioFpCte
             SELECT a.id AS id_a, b.id AS id_b
             FROM fp a JOIN fp b
               ON a.id < b.id AND bit_count(xor(a.fp, b.fp)) <= 3
             ORDER BY id_a, id_b""")),

    // Video frame sampling: every video's GVID container is demuxed (real
    // parse), every 2nd frame PNG-decoded through the real javax.imageio
    // path, and reduced to its exact integer Rec.601 luma sum. The oracle
    // recomputes the sums straight from the shared pixel formula (PNG is
    // lossless) — verifying mux -> demux -> stride-sample -> decode ->
    // feature end to end. Blobs never shuffle; 3 narrow rows leave per
    // video.
    QueryDef(
      "mm_video_frames",
      (s, dir) =>
        Codecs.videoFrameLuma(videoClips(s, dir), 2)
          .select(col("id"), col("frameIdx").cast("long").as("frame_idx"),
            col("lumaSum").as("luma_sum"))
          .orderBy("id", "frame_idx"),
      Some("""WITH px AS (
               SELECT doc_id AS id, f, x, y,
                 (doc_id*7 + f*13 + x*3 + y*5) % 256 AS r,
                 (doc_id*11 + f*3 + x*7 + y) % 256 AS g,
                 (doc_id + f + x + y) % 256 AS b
               FROM documents, (SELECT unnest([0, 2, 4]) AS f) fr,
                 range(8) tx(x), range(8) ty(y))
             SELECT id, f::bigint AS frame_idx,
               sum((299*r + 587*g + 114*b)//1000)::bigint AS luma_sum
             FROM px GROUP BY id, f ORDER BY id, frame_idx""")),

    // Same frame-sampling path, REAL MP4 ingest (VERDICT r6 #4): the
    // fixture muxes the identical lossless PNG frames into a genuine
    // ISO-BMFF container (ftyp/mdat/moov + stbl sample tables); the
    // stdlib demuxer reconstructs samples via the general stsz/stsc/stco
    // walk and the stride-sampling decode is unchanged (Codecs.demuxAny
    // sniffs the container). Oracle = the shared pixel formula — PNG is
    // lossless and the MP4 carries the bytes verbatim, so the luma sums
    // are exact. Stride 3 (vs mm_video_frames' 2) so the two queries pin
    // different sampled frame sets.
    QueryDef(
      "mm_video_mp4",
      (s, dir) =>
        Codecs.videoFrameLuma(videoClipsMp4(s, dir), 3)
          .select(col("id"), col("frameIdx").cast("long").as("frame_idx"),
            col("lumaSum").as("luma_sum"))
          .orderBy("id", "frame_idx"),
      Some("""WITH px AS (
               SELECT doc_id AS id, f, x, y,
                 (doc_id*7 + f*13 + x*3 + y*5) % 256 AS r,
                 (doc_id*11 + f*3 + x*7 + y) % 256 AS g,
                 (doc_id + f + x + y) % 256 AS b
               FROM documents, (SELECT unnest([0, 3]) AS f) fr,
                 range(8) tx(x), range(8) ty(y))
             SELECT id, f::bigint AS frame_idx,
               sum((299*r + 587*g + 114*b)//1000)::bigint AS luma_sum
             FROM px GROUP BY id, f ORDER BY id, frame_idx"""))
  )
}
