package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines at 100 TB scale.
  *
  * Design rules applied throughout:
  *  - candidate generation is always a *bucketed equi-join* (LSH band key,
  *    SimHash chunk key, content hash) — never an unbounded theta join;
  *    the only brute-force pairing ([[ngramJaccardPairs]]) is explicitly
  *    blocked and documented as the small-block verifier.
  *  - signatures (MinHash, SimHash) are computed row-locally with
  *    higher-order array functions — no shuffle, no UDF, codegen-friendly.
  *  - hashes are md5-based so results are engine-portable (deterministic
  *    and reproducible in any SQL engine for oracle checks).
  */
object Dedup {

  /** Word n-gram shingles of a text column IN TEXT ORDER, with
    * multiplicity — element i is the gram starting at token i. Row-local,
    * NATIVE ([[graft.functions.WordShinglesExpr]] — the compositional
    * HOF chain ran interpreted and dominated every gram table's cost);
    * the positional form feeds [[sharedSpanPairs]] (where order and
    * position carry the signal); [[wordShingles]] is its de-duplicated,
    * order-free projection. */
  def positionalShingles(text: Column, n: Int = 2): Column =
    graft.functions.WordShinglesExpr(text, n, positional = true)

  /** Word n-gram shingles of a text column, de-duplicated, order-free.
    * n=2 by default: `["a b", "b c", ...]`. Row-local, native. */
  def wordShingles(text: Column, n: Int = 2): Column =
    graft.functions.WordShinglesExpr(text, n, positional = false)

  /** The compositional (HOF) form of [[positionalShingles]] — the
    * executable specification the native expression is pinned against
    * in DedupSpec. Interpreted; not for hot paths. */
  def positionalShinglesSpec(text: Column, n: Int = 2): Column = {
    val toks = TextAnalysis.tokensSpec(text)
    val m = size(toks)
    if (n == 1) toks
    else {
      // zip toks[0..m-2] with toks[1..m-1] (bigram case generalized below)
      val parts = (0 until n).map(i => slice(toks, lit(i + 1), greatest(m - (n - 1), lit(0))))
      parts.reduceLeft((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    }
  }

  /** HOF form of [[wordShingles]] — executable specification only. */
  def wordShinglesSpec(text: Column, n: Int = 2): Column =
    array_distinct(positionalShinglesSpec(text, n))

  /** Exact dedup: group identical content by md5, keep the smallest id
    * (hash-groupBy — map-side partial agg, one shuffle on the digest). */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The boilerplate-LINE inventory behind [[stripBoilerplateLines]]:
    * every exact line (delimiter-split, whitespace-only lines excluded)
    * that occurs in at least `maxDocFreq` DISTINCT documents, with its
    * document frequency — navigation bars, cookie banners, license
    * footers: content that is common because it is furniture, not
    * signal. One distinct + hash-groupBy; output bounded by the line
    * inventory. */
  def boilerplateLineInventory(df: DataFrame, id: String, text: String,
                               maxDocFreq: Int,
                               delim: String = "\n"): DataFrame = {
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    df.select(col(id),
        explode(split(col(text), java.util.regex.Pattern.quote(delim)))
          .as("line"))
      .filter(trim(col("line")) =!= "")
      .distinct() // a line repeated WITHIN one doc counts once
      .groupBy(col("line"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= maxDocFreq)
  }

  /** Line-level boilerplate removal — the CCNet/RefinedWeb pipeline
    * stage between document dedup and quality filtering: drop every
    * line whose EXACT text appears in ≥ `maxDocFreq` distinct documents,
    * and reassemble each document from its surviving lines in original
    * order. Whitespace-only lines are never counted as boilerplate (and
    * so never removed) — blank separators are structure, not furniture.
    * Documents losing every line survive with empty `clean_text`, so
    * the output is row-aligned with the input (a pipeline can join the
    * result back by id).
    *
    * Scale shape: line explode is row-local; the inventory is a
    * distinct + hash-groupBy bounded by the line inventory; removal
    * marks boiler lines with ONE left equi-join on the line (the
    * inventory side is frequency-capped small — AQE broadcasts it) and
    * reassembly is ONE groupBy over all lines, keeping non-boiler rows
    * via a conditional collect (collect_list skips nulls) with a
    * per-document sort of ITS OWN lines (array_sort — never a global or
    * per-key window). Every document reaches the groupBy, so the output
    * stays row-aligned without a separate totals join. Output:
    * `(id, clean_text, n_kept, n_removed)`. */
  def stripBoilerplateLines(df: DataFrame, id: String, text: String,
                            maxDocFreq: Int,
                            delim: String = "\n"): DataFrame = {
    val boiler = boilerplateLineInventory(df, id, text, maxDocFreq, delim)
      .select(col("line"), lit(true).as("__boiler"))
    val lines = df.select(col(id),
      posexplode(split(col(text), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "line")))
    lines.join(boiler, Seq("line"), "left")
      .groupBy(col(id))
      .agg(
        array_sort(collect_list(
          when(col("__boiler").isNull, struct(col("pos"), col("line")))))
          .as("__ls"),
        count(when(col("__boiler"), lit(1))).as("n_removed"))
      .select(col(id),
        array_join(transform(col("__ls"), e => e.getField("line")), delim)
          .as("clean_text"),
        size(col("__ls")).cast("long").as("n_kept"),
        col("n_removed"))
  }

  /** Jaccard similarity of two pre-deduplicated shingle arrays as
    * |A∩B| / (|A|+|B|−|A∩B|). Exact IEEE arithmetic — portable. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Brute-force n-gram Jaccard near-dup pairs *within a blocking key*
    * (e.g. language, length bucket). The block bounds the quadratic term:
    * cost is Σ_block |block|², so blocks must be kept small at scale —
    * for unblocked corpora use [[minHashLshPairs]] instead. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        block: String, threshold: Double): DataFrame = {
    // persisted: consumed by both sides of the self-join
    val sh = Caches.track(df.select(col(id), col(block), wordShingles(col(text)).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist())
    val a = sh.select(col(id).as("a_id"), col(block).as("a_block"), col("sh").as("a_sh"))
    val b = sh.select(col(id).as("b_id"), col(block).as("b_block"), col("sh").as("b_sh"))
    a.join(b, col("a_block") === col("b_block") && col("a_id") < col("b_id"))
      .withColumn("jac", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
  }

  /** MinHash prime modulus (2^31 − 1) and the deterministic linear-hash
    * family `h_i(x) = (a_i·x + b_i) mod P` over a single md5-derived base
    * hash per shingle. One md5 per shingle total (not per hash function):
    * md5 is the expensive interpreted step; the i-th permutation is two
    * integer ops. a_i odd (coprime with 2) and < 2^20, so a_i·x < 2^51 —
    * no int64 overflow. Portable integer arithmetic, reproducible in any
    * engine. */
  val MinHashP = 2147483647L
  def minHashA(i: Int): Long = 4099L * i + 1L
  def minHashB(i: Int): Long = 9973L * i + 7L

  /** 60-bit base hash of a shingle: md5 hex prefix as int64, reduced
    * mod P. Row-local; native digest-bytes expression (same value as the
    * conv/substring/md5 composition, none of its string work —
    * graft.functions.Md5Prefix60). */
  def baseHash(x: Column): Column =
    graft.functions.Md5Hash.prefix60(x) % MinHashP

  /** MinHash signature: element i is `min over shingles of
    * (a_i·h + b_i) mod P` where h = [[baseHash]](shingle).
    *
    * Implemented as ONE fold with an `numHashes`-wide running-minimum
    * accumulator so the md5 base hash is evaluated exactly once per
    * shingle — expressing it as `numHashes` separate `array_min(transform
    * (...md5...))` columns would re-run the md5 per hash function after
    * Catalyst's projection collapse (12× the dominant cost). */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    aggregate(
      transform(shingles, baseHash(_)),
      array_repeat(lit(MinHashP), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, i) => least(m, (h * (i * 4099L + 1L) + (i * 9973L + 7L)) % MinHashP)))

  /** LSH band keys: concatenation of `rowsPerBand` consecutive signature
    * entries, prefixed with the band index. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("#", lit(b.toString) +:
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** MinHash+LSH near-dup pairs: shingle → signature → band → bucket join
    * → exact-Jaccard verification. The only shuffles are (1) the band-key
    * equi-join (candidate generation — data volume ∝ documents × bands) and
    * (2) two id-joins to fetch shingles for verification. No O(n²) stage;
    * this is the scale path for unblocked corpora.
    *
    * Scale hardening:
    *  - the shingle table is persisted once — shingling + signatures would
    *    otherwise be recomputed on both sides of the self-join and in both
    *    verification joins (4× the dominant cost at 100 TB);
    *  - `maxBucket` caps band-bucket size: a viral duplicated document
    *    creates one huge bucket → one O(|bucket|²) straggler task. Buckets
    *    above the cap are dropped (those docs still pair via their other
    *    bands). 0 disables the cap. */
  /** Shared signature stage of the MinHash operators: `(doc, sh, __sig)`
    * — de-duplicated shingles plus the MinHash signature, persisted
    * (the signature — md5 over every shingle — is the dominant cost and
    * is consumed by both candidate-join sides and both verification
    * joins).
    *
    * Signature computed ROW-LOCALLY in one native expression
    * (graft.functions.MinHashArraySig): a document's signature is a pure
    * function of its own shingle array, so the earlier explode →
    * groupBy-aggregate → join-back pipeline paid a one-row-per-shingle
    * shuffle (~50× the corpus) purely to reassemble rows the plan
    * already had. Now the whole table is scan → project (codegen'd) —
    * ZERO shuffles before the band join. Identical arithmetic to
    * [[minHashSignature]], the executable specification (DedupSpec pins
    * bit-equality), so the q17 oracle is unchanged. */
  private def minHashSignedTable(df: DataFrame, id: String, text: String,
                                 numHashes: Int): DataFrame =
    Caches.track(df.select(col(id).as("doc"), wordShingles(col(text)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("__sig",
        graft.functions.MinHashArraySig(col("sh"), numHashes))
      .persist())

  def minHashLshPairs(df: DataFrame, id: String, text: String,
                      numHashes: Int, bands: Int, threshold: Double,
                      maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"need bands >= 1 and numHashes a positive multiple of bands " +
        s"(got numHashes=$numHashes, bands=$bands)")
    val rowsPerBand = numHashes / bands
    val sh = minHashSignedTable(df, id, text, numHashes)
    val banded = sh
      .select(col("doc"), explode(lshBands(col("__sig"), bands, rowsPerBand)).as("band"))
    val capped =
      if (maxBucket <= 0) banded
      else banded.withColumn("__bn",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band")))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
      .distinct()
    cand
      .join(sh.select(col("doc").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jac", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
  }

  /** Incremental MinHash near-dup detection — dedup a NEW batch against
    * an EXISTING corpus without ever re-pairing existing×existing: the
    * maintenance shape of a crawl pipeline, where each snapshot's
    * additions (see [[snapshotDiff]]) are checked against everything
    * already ingested. Same signature/band/verify machinery as
    * [[minHashLshPairs]], but candidates come from the CROSS-side band
    * join only, so per-batch cost is ∝ |incoming|·bands plus the
    * existing bucket members they touch — not ∝ |corpus|². At
    * production scale the existing side's signature table would persist
    * once in storage and be reused across batches (signatures are pure
    * per-document functions, so per-side computation is identical to
    * computing over the union and filtering).
    *
    * `maxBucket` caps the EXISTING side's band buckets (that is where a
    * viral duplicate accumulates over snapshots); incoming docs still
    * pair via their other bands, the same documented recall trade as
    * [[minHashLshPairs]]. Output: (existing_id, incoming_id, jac). */
  def incrementalMinHashPairs(existing: DataFrame, incoming: DataFrame,
                              id: String, text: String, numHashes: Int,
                              bands: Int, threshold: Double,
                              maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"need bands >= 1 and numHashes a positive multiple of bands " +
        s"(got numHashes=$numHashes, bands=$bands)")
    val rowsPerBand = numHashes / bands
    val ex = minHashSignedTable(existing, id, text, numHashes)
    val inc = minHashSignedTable(incoming, id, text, numHashes)
    def bandsOf(t: DataFrame): DataFrame = t.select(col("doc"),
      explode(lshBands(col("__sig"), bands, rowsPerBand)).as("band"))
    val exB = bandsOf(ex)
    val exCapped =
      if (maxBucket <= 0) exB
      else exB.withColumn("__bn",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band")))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    val cand = exCapped.as("x").join(bandsOf(inc).as("y"),
        col("x.band") === col("y.band"))
      .select(col("x.doc").as("existing_id"), col("y.doc").as("incoming_id"))
      .distinct()
    cand
      .join(ex.select(col("doc").as("existing_id"), col("sh").as("a_sh")),
        "existing_id")
      .join(inc.select(col("doc").as("incoming_id"), col("sh").as("b_sh")),
        "incoming_id")
      .withColumn("jac", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jac") >= threshold)
      .select("existing_id", "incoming_id", "jac")
  }

  /** The existing corpus as one row per (band key, doc), carrying the
    * doc's shingles for in-join verification — `(band, existing_id,
    * ex_sh)`: the table behind [[saveMinHashIndex]] and the pair index.
    * Carrying the shingle array through the band explode duplicates it
    * ×bands, a width trade that makes the verdict ONE equi-join (no
    * second verification join); the one-shot batch operator
    * ([[incrementalMinHashPairs]]) keeps bands and shingles separate
    * instead, and is what a live feed runs per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]. Long-lived consumers
    * should `.persist()` the result. */
  def minHashBandTable(df: DataFrame, id: String, text: String,
                       numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"need bands >= 1 and numHashes a positive multiple of bands " +
        s"(got numHashes=$numHashes, bands=$bands)")
    val rowsPerBand = numHashes / bands
    minHashSignedTable(df, id, text, numHashes)
      .select(col("doc").as("existing_id"), col("sh").as("ex_sh"),
        explode(lshBands(col("__sig"), bands, rowsPerBand)).as("band"))
  }

  /** Persist [[minHashBandTable]] as a MAINTAINED index (r15 — the
    * last near-dup family without the lifecycle; winnow, span-gram,
    * SimHash-via-hammingBandTable consumers, postings, IVF-SQ8, maxsim
    * and SymSpell all have it): `(doc_id, sh, band, nh, nb, gen)`
    * bucketed by `band` (the candidate join's key) under the
    * [[graft.io.IndexMaintenance]] generational-tombstone contract —
    * a crawl pipeline's LSH corpus lives for years while documents get
    * retracted (delete) or re-ingested after extraction fixes
    * (replace), the same argument that earned winnow its lifecycle in
    * r14. Signature params (`nh` = numHashes, `nb` = bands) are BAKED
    * into the rows (the SymSpell build-param convention) and guarded at
    * BOTH ends — append/replace refuse a mismatched signature (mixed
    * params silently lose candidate recall: band keys from different
    * (nh, nb) never collide), and [[minHashPairsFromIndex]] refuses to
    * serve at params the table wasn't built with. Carrying the shingle
    * array in each band row duplicates it ×bands — the documented
    * [[minHashBandTable]] width trade, which buys the serve path ONE
    * equi-join for candidates + verification operands (no second
    * corpus-side join per probe batch). */
  def saveMinHashIndex(df: DataFrame, id: String, text: String,
                       table: String, buckets: Int, numHashes: Int,
                       bands: Int): Unit = {
    graft.io.Layout.writeBucketed(
      minHashBandTable(df, id, text, numHashes, bands)
        .select(col("existing_id").as("doc_id"), col("ex_sh").as("sh"),
          col("band"))
        .withColumn("nh", lit(numHashes))
        .withColumn("nb", lit(bands))
        .withColumn("gen", lit(0L)),
      table, "band", buckets)
    graft.io.IndexMaintenance.writeParams(df.sparkSession, table,
      Map("nh" -> numHashes.toLong, "nb" -> bands.toLong))
  }

  /** Refuse a live table whose build (nh, nb) disagree with the
    * caller's. Shared by append/replace and the serve path: a
    * mismatched signature doesn't fail loudly on its own, it just
    * stops matching (band keys from different params never collide),
    * which is the worst kind of wrong. Reads the O(1)
    * [[graft.io.IndexMaintenance.writeParams]] sidecar when present
    * (r15 advice: a full live-index min/max scan per append/serve
    * contradicted the O(batch) claim); tables predating the sidecar
    * (or whose sidecar a crash lost) pay ONE row scan and backfill
    * it. */
  private def minHashIndexParamGuard(
      spark: org.apache.spark.sql.SparkSession, table: String,
      numHashes: Int, bands: Int): Unit =
    minHashGuardImpl(spark, table, numHashes, bands,
      "minHash index", "saveMinHashIndex")

  private def minHashGuardImpl(
      spark: org.apache.spark.sql.SparkSession, table: String,
      numHashes: Int, bands: Int, what: String, rebuild: String): Unit = {
    // a missing table has nothing to contradict — the first append of a
    // writer-created index (replace on a fresh stream) creates it
    if (!spark.catalog.tableExists(table)) return
    def fail(nh: Any, nb: Any): Nothing =
      throw new IllegalArgumentException(
        s"$what '$table' was built at numHashes=$nh, bands=$nb but the " +
          s"caller passed numHashes=$numHashes, bands=$bands — mixed " +
          "signatures silently lose candidate recall; pass the table's " +
          s"own params or rebuild with $rebuild")
    graft.io.IndexMaintenance.readParams(spark, table) match {
      case Some(p) =>
        if (!p.get("nh").contains(numHashes.toLong) ||
            !p.get("nb").contains(bands.toLong))
          fail(p.getOrElse("nh", "?"), p.getOrElse("nb", "?"))
      case None =>
        val s = graft.io.IndexMaintenance.load(spark, table, "doc_id")
          .agg(min(col("nh")), max(col("nh")), min(col("nb")),
            max(col("nb")))
          .head()
        if (!s.isNullAt(0)) {
          if (s.getInt(0) != numHashes || s.getInt(1) != numHashes ||
              s.getInt(2) != bands || s.getInt(3) != bands)
            fail(s"${s.getInt(0)}..${s.getInt(1)}",
              s"${s.getInt(2)}..${s.getInt(3)}")
          graft.io.IndexMaintenance.writeParams(spark, table,
            Map("nh" -> numHashes.toLong, "nb" -> bands.toLong))
        }
    }
  }

  /** Write the (nh, nb) params sidecar after an append that CREATED
    * the table (writer-created index — the save path writes it
    * directly), so every later guard on it is O(1). */
  private def ensureMinHashParams(
      spark: org.apache.spark.sql.SparkSession, table: String,
      numHashes: Int, bands: Int): Unit =
    if (graft.io.IndexMaintenance.readParams(spark, table).isEmpty)
      graft.io.IndexMaintenance.writeParams(spark, table,
        Map("nh" -> numHashes.toLong, "nb" -> bands.toLong))

  /** Append NEW docs' band rows — O(batch), gen-stamped, params
    * guarded against the saved table's. Updates to existing docs must
    * route through [[replaceInMinHashIndex]]. */
  def appendToMinHashIndex(df: DataFrame, id: String, text: String,
                           table: String, buckets: Int, numHashes: Int,
                           bands: Int): Unit = {
    val spark = df.sparkSession
    minHashIndexParamGuard(spark, table, numHashes, bands)
    val gen = graft.io.IndexMaintenance.currentSeq(spark, table)
    graft.io.Layout.appendBucketed(
      minHashBandTable(df, id, text, numHashes, bands)
        .select(col("existing_id").as("doc_id"), col("ex_sh").as("sh"),
          col("band"))
        .withColumn("nh", lit(numHashes))
        .withColumn("nb", lit(bands))
        .withColumn("gen", lit(gen)),
      table, "band", buckets)
    ensureMinHashParams(spark, table, numHashes, bands)
  }

  /** Tombstone docs out of a maintained MinHash index — O(batch). */
  def deleteFromMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, ids: DataFrame,
                             idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "doc_id",
      ids.select(col(idCol).as("doc_id")))

  /** Replace docs' band rows: tombstone then append — the old rows die
    * behind the new sequence. ≡ rebuild (spec-pinned). */
  def replaceInMinHashIndex(df: DataFrame, id: String, text: String,
                            table: String, buckets: Int, numHashes: Int,
                            bands: Int): Unit = {
    deleteFromMinHashIndex(df.sparkSession, table,
      df.select(col(id)).distinct(), id)
    appendToMinHashIndex(df, id, text, table, buckets, numHashes, bands)
  }

  /** The serving view of a maintained MinHash index (live rows). */
  def loadMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String): DataFrame =
    graft.io.IndexMaintenance.load(spark, table, "doc_id")

  /** [[incrementalMinHashPairs]] served from a maintained
    * [[saveMinHashIndex]] table — bit-identical output over the same
    * live corpus state (spec-pinned): incoming docs are signed and
    * banded in-query (row-local native expressions), candidates come
    * from ONE band equi-join against the live view (band-key bucketed —
    * no exchange on the corpus side), the incoming side's shingles
    * arrive through one batch-bounded id join, and verification runs
    * the identical rounded-Jaccard filter. Deleted/replaced corpus
    * docs neither pair nor verify. `maxBucket` caps the EXISTING
    * side's band buckets exactly as the batch operator does. Output:
    * `(existing_id, incoming_id, jac)`. */
  def minHashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, incoming: DataFrame,
                            id: String, text: String, numHashes: Int,
                            bands: Int, threshold: Double,
                            maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"need bands >= 1 and numHashes a positive multiple of bands " +
        s"(got numHashes=$numHashes, bands=$bands)")
    minHashIndexParamGuard(spark, table, numHashes, bands)
    val rowsPerBand = numHashes / bands
    val live = loadMinHashIndex(spark, table)
      .select(col("doc_id").as("existing_id"), col("sh").as("a_sh"),
        col("band"))
    val exCapped =
      if (maxBucket <= 0) live
      else live.withColumn("__bn",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("band")))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    val inc = minHashSignedTable(incoming, id, text, numHashes)
    val incB = inc.select(col("doc").as("incoming_id"),
      explode(lshBands(col("__sig"), bands, rowsPerBand)).as("band"))
    exCapped.join(incB, Seq("band"))
      .select(col("existing_id"), col("incoming_id"), col("a_sh"))
      .dropDuplicates("existing_id", "incoming_id")
      .join(inc.select(col("doc").as("incoming_id"), col("sh").as("b_sh")),
        Seq("incoming_id"))
      .withColumn("jac", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jac") >= threshold)
      .select("existing_id", "incoming_id", "jac")
  }

  /** Compact a maintained MinHash index — the standard generational
    * band-bucketed rewrite ([[graft.io.IndexMaintenance.compact]];
    * serving through [[minHashPairsFromIndex]] is identical across
    * it, spec-pinned like the winnow set). */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, buckets: Int): Unit =
    graft.io.IndexMaintenance.compact(spark, table, "band", buckets,
      "doc_id")

  /** The STORAGE-LEAN maintained MinHash index — a PAIR of tables
    * under one shared tombstone sidecar (the maxsim-pair machinery):
    * the wide [[saveMinHashIndex]] layout duplicates each document's
    * shingle array ×bands (≈ bands × corpus tokens at 100 TB — the
    * documented width trade that buys a one-join serve), this layout
    * stores the bands NARROW (`<table>`: doc_id, band, nh, nb, gen —
    * bucketed by `band`, bytes per row not per token) and the shingles
    * ONCE (`<table>__sh`: doc_id, sh, gen — bucketed by `doc_id`), so
    * index bytes ≈ corpus tokens + band keys instead of bands× corpus
    * tokens. Serving pays one extra candidate-bounded join to fetch
    * the existing side's shingles (doc-bucketed — the probe hashes
    * into buckets, the table never re-shuffles). Same signature-param
    * guard; one delete hides a doc from BOTH tables atomically
    * (shared sidecar); [[compactMinHashPairIndex]] swaps both behind
    * the crash guard ([[graft.io.IndexMaintenance.compactPair]]).
    * Serving output ≡ [[incrementalMinHashPairs]] ≡ the wide form,
    * bit-for-bit (spec-pinned). */
  def saveMinHashPairIndex(df: DataFrame, id: String, text: String,
                           table: String, buckets: Int, numHashes: Int,
                           bands: Int): Unit = {
    val wide = minHashBandTable(df, id, text, numHashes, bands)
    graft.io.Layout.writeBucketed(
      wide.select(col("existing_id").as("doc_id"), col("band"))
        .withColumn("nh", lit(numHashes))
        .withColumn("nb", lit(bands))
        .withColumn("gen", lit(0L)),
      table, "band", buckets)
    graft.io.Layout.writeBucketed(
      wide.select(col("existing_id").as("doc_id"), col("ex_sh").as("sh"))
        .dropDuplicates("doc_id")
        .withColumn("gen", lit(0L)),
      table + "__sh", "doc_id", buckets)
    graft.io.IndexMaintenance.writeParams(df.sparkSession, table,
      Map("nh" -> numHashes.toLong, "nb" -> bands.toLong))
  }

  /** Append NEW docs to a maintained pair index — O(batch), both
    * tables gen-stamped under the shared sidecar, params guarded. */
  def appendToMinHashPairIndex(df: DataFrame, id: String, text: String,
                               table: String, buckets: Int,
                               numHashes: Int, bands: Int): Unit = {
    val spark = df.sparkSession
    minHashPairIndexParamGuard(spark, table, numHashes, bands)
    val gen = graft.io.IndexMaintenance.currentSeq(spark, table)
    val wide = minHashBandTable(df, id, text, numHashes, bands)
    graft.io.Layout.appendBucketed(
      wide.select(col("existing_id").as("doc_id"), col("band"))
        .withColumn("nh", lit(numHashes))
        .withColumn("nb", lit(bands))
        .withColumn("gen", lit(gen)),
      table, "band", buckets)
    graft.io.Layout.appendBucketed(
      wide.select(col("existing_id").as("doc_id"), col("ex_sh").as("sh"))
        .dropDuplicates("doc_id")
        .withColumn("gen", lit(gen)),
      table + "__sh", "doc_id", buckets)
    ensureMinHashParams(spark, table, numHashes, bands)
  }

  /** [[minHashIndexParamGuard]] for the pair layout — same O(1)
    * sidecar-first discipline, scan-and-backfill fallback. */
  private def minHashPairIndexParamGuard(
      spark: org.apache.spark.sql.SparkSession, table: String,
      numHashes: Int, bands: Int): Unit =
    minHashGuardImpl(spark, table, numHashes, bands,
      "minHash pair index", "saveMinHashPairIndex")

  /** Tombstone docs out of BOTH tables of a pair index — one sidecar
    * row per id hides the doc's band rows AND its shingle row. */
  def deleteFromMinHashPairIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      ids: DataFrame, idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "doc_id",
      ids.select(col(idCol).as("doc_id")))

  /** Replace docs in a pair index: tombstone then append both. */
  def replaceInMinHashPairIndex(df: DataFrame, id: String, text: String,
                                table: String, buckets: Int,
                                numHashes: Int, bands: Int): Unit = {
    deleteFromMinHashPairIndex(df.sparkSession, table,
      df.select(col(id)).distinct(), id)
    appendToMinHashPairIndex(df, id, text, table, buckets, numHashes,
      bands)
  }

  /** [[incrementalMinHashPairs]] served from a maintained PAIR index —
    * bit-identical to the wide form and the in-query operator over the
    * same live corpus state (spec-pinned). Candidates come from the
    * narrow band join; the existing side's shingles arrive through one
    * candidate-bounded probe into the doc-bucketed `__sh` sibling. */
  def minHashPairsFromPairIndex(spark: org.apache.spark.sql.SparkSession,
                                table: String, incoming: DataFrame,
                                id: String, text: String, numHashes: Int,
                                bands: Int, threshold: Double,
                                maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"need bands >= 1 and numHashes a positive multiple of bands " +
        s"(got numHashes=$numHashes, bands=$bands)")
    minHashPairIndexParamGuard(spark, table, numHashes, bands)
    val rowsPerBand = numHashes / bands
    val tomb = graft.io.IndexMaintenance.tombstoneTable(table)
    val liveBands = graft.io.IndexMaintenance.load(spark, table, "doc_id")
      .select(col("doc_id").as("existing_id"), col("band"))
    val liveSh = graft.io.IndexMaintenance
      .loadWith(spark, table + "__sh", "doc_id", tomb)
      .select(col("doc_id").as("existing_id"), col("sh").as("a_sh"))
    val exCapped =
      if (maxBucket <= 0) liveBands
      else liveBands.withColumn("__bn",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("band")))
        .filter(col("__bn") <= maxBucket).drop("__bn")
    val inc = minHashSignedTable(incoming, id, text, numHashes)
    val incB = inc.select(col("doc").as("incoming_id"),
      explode(lshBands(col("__sig"), bands, rowsPerBand)).as("band"))
    exCapped.join(incB, Seq("band"))
      .select(col("existing_id"), col("incoming_id"))
      .distinct()
      .join(liveSh, Seq("existing_id"))
      .join(inc.select(col("doc").as("incoming_id"), col("sh").as("b_sh")),
        Seq("incoming_id"))
      .withColumn("jac", round(jaccard(col("a_sh"), col("b_sh")), 4))
      .filter(col("jac") >= threshold)
      .select("existing_id", "incoming_id", "jac")
  }

  /** Compact BOTH tables of a maintained pair index behind the shared
    * crash guard — bands re-bucketed by `band`, shingles by `doc_id`,
    * one sentinel collapse after both swaps. */
  def compactMinHashPairIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, buckets: Int): Unit =
    graft.io.IndexMaintenance.compactPair(spark, table, table + "__sh",
      "band", "doc_id", buckets, "doc_id")

  /** Dedup savings report — the audit artifact an exact-dedup pass
    * leaves behind: for each duplicate-family SIZE, how many families
    * exist, how many rows deletion removes, and how many bytes those
    * rows carry (winner = smallest id per family, consistent with
    * [[exactDedup]]). The reporting side of dedup that capacity
    * planning and pipeline dashboards consume.
    *
    * Scale shape: two hash-groupBys with map-side partial aggregation
    * (content hash → family stats → size histogram); `min_by` keeps the
    * winner's size inside a codegen'd hash aggregate (never a
    * struct-min SortAggregate); output is bounded by the distinct
    * family sizes. Deterministic integers throughout. */
  def dedupSavingsReport(df: DataFrame, id: String, text: String,
                         size: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(count(lit(1)).as("family_size"),
        sum(col(size)).as("__tb"),
        min_by(col(size), col(id)).as("__wsize"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"),
        sum(col("family_size") - 1).as("dup_rows"),
        sum(col("__tb") - col("__wsize")).as("dup_bytes"))

  /** Shared-span detection — exact-substring dedup at token-gram
    * granularity (the relational approximation of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, which uses a suffix array): for each document
    * pair, every maximal run of positionally-aligned shared n-grams of
    * length ≥ `minRun` — a shared token span of L tokens is a run of
    * L−n+1 consecutive grams. Integer-only output
    * `(a_id, b_id, a_start, delta, run_len)` (a_start = 0-based gram
    * position in a; delta = a_start − b_start), fully deterministic.
    *
    * Shape: positional grams are row-local; candidates come from a
    * 60-bit gram-hash equi-join (never theta); runs are detected with
    * the classic pa − row_number() trick under windows partitioned by
    * (a, b, delta) — pair-local, tiny partitions. `maxDocFreq` drops
    * grams appearing in more than that many gram slots corpus-wide
    * (boilerplate blocking — the suffix-array method's common-prefix
    * explosion shows up here as Σ_gram freq² join volume): a dropped
    * common gram can split or hide a run that contains it, the
    * documented recall trade; 0 disables. */
  def sharedSpanPairs(df: DataFrame, id: String, text: String, n: Int,
                      minRun: Int, maxDocFreq: Int = 0): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    val g = df.select(col(id).as("doc"),
        posexplode(positionalShingles(col(text), n)).as(Seq("pos", "gram")))
      .select(col("doc"), col("pos"),
        graft.functions.Md5Hash.prefix60(col("gram")).as("gh"))
    val capped =
      if (maxDocFreq <= 0) g
      else g.withColumn("__n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
        .filter(col("__n") <= maxDocFreq).drop("__n")
    val m = capped.as("x").join(capped.as("y"),
        col("x.gh") === col("y.gh") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("a_id"), col("y.doc").as("b_id"),
        col("x.pos").as("pa"), col("y.pos").as("pb"))
    // within (a, b, delta) each pa occurs once, so consecutive pa values
    // share a constant pa - row_number() — one group per maximal run
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id", "b_id", "delta").orderBy("pa")
    m.withColumn("delta", col("pa") - col("pb"))
      .withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("delta"), col("__grp"))
      .agg(min(col("pa")).as("a_start"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
      .select("a_id", "b_id", "a_start", "delta", "run_len")
  }

  /** Shared-span EXCISION — the APPLY form of [[sharedSpanPairs]] and
    * the actual output of Lee et al. 2022's exact-substring pipeline
    * (arXiv:2107.06499 §3.2: each duplicated span is removed from all
    * but ONE occurrence; the corpus is REWRITTEN, not just flagged).
    * Keep rule: the span's occurrence in the LOWEST doc id survives —
    * [[sharedSpanPairs]] already orients every pair a_id < b_id, so the
    * spans to remove are exactly the b-side token intervals
    * `[a_start − delta, a_start − delta + run_len + n − 2]` (a run of
    * `run_len` n-grams covers `run_len + n − 1` tokens). Transitive
    * families resolve correctly without a chain step: every holder
    * except the global minimum id is some pair's b side, so exactly one
    * copy survives. Per doc, intervals from ALL pairs merge
    * (overlapping or adjacent) before excision; the rewritten text is
    * the surviving tokens joined by single spaces (token-boundary
    * excision — the rebuilt text re-tokenizes to exactly the kept token
    * stream). Excising can join previously-distant tokens, so up to
    * n − 1 NEW seam grams appear per interval; a second detection pass
    * over the output is clean on any corpus whose seams don't
    * re-duplicate (spec-pinned on a transitive fixture) — the same
    * single-cut convention the reference pipeline ships.
    *
    * Output: one row per input doc —
    * `(doc_id, text_out, n_spans, n_tokens_removed)`; untouched docs
    * pass through with their ORIGINAL text and zeros.
    *
    * Scale shape: the pair set is [[sharedSpanPairs]]'s gram-hash
    * equi-join (never theta; `maxDocFreq` caps boilerplate blow-up);
    * interval merge is the classic running-max grouping under windows
    * PARTITIONED BY doc over pair-bounded rows; the rebuild splits the
    * corpus into an anti-join passthrough (codegen, no token work) and
    * the touched docs (pair-bounded), which alone pay the interpreted
    * index-filter HOF over their token arrays. One corpus scan beyond
    * the detection pass. */
  def exciseSharedSpans(df: DataFrame, id: String, text: String, n: Int,
                        minRun: Int, maxDocFreq: Int = 0): DataFrame = {
    val pairs = sharedSpanPairs(df, id, text, n, minRun, maxDocFreq)
    val spans = pairs.select(col("b_id").as("doc"),
      (col("a_start") - col("delta")).cast("int").as("s"),
      (col("a_start") - col("delta") + col("run_len") + lit(n - 2))
        .cast("int").as("e"))
    exciseIntervals(df.select(col(id).as("doc_id"), col(text).as("__t")),
      spans)
  }

  /** Shared tail of the excision family: merge `(doc, s, e)` token
    * intervals per doc (overlapping or adjacent — running-max grouping
    * under doc-partitioned windows over pair-bounded rows) and rebuild
    * `base (doc_id, __t)` as an anti-join passthrough (codegen) plus
    * the touched docs' interpreted index-filter over their token
    * arrays. Output: `(doc_id, text_out, n_spans, n_tokens_removed)`
    * for every base row. */
  private def exciseIntervals(base: DataFrame,
                              spans: DataFrame): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("s", "e")
    val wPrev = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val merged = spans
      .withColumn("__pm", max(col("e")).over(wPrev))
      .withColumn("__new",
        when(col("__pm").isNull || col("s") > col("__pm") + 1, 1L)
          .otherwise(0L))
      .withColumn("__g", sum(col("__new")).over(wOrd))
      .groupBy(col("doc"), col("__g"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val iv = merged.groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("iv"),
        count(lit(1)).as("n_spans"))
    val ivK = iv.withColumnRenamed("doc", "doc_id")
    val touched = base.join(ivK, Seq("doc_id"))
      .withColumn("__toks", TextAnalysis.tokens(col("__t")))
      .withColumn("__kept", filter(col("__toks"), (_, i) =>
        !exists(col("iv"),
          v => i >= v.getField("s") && i <= v.getField("e"))))
      .select(col("doc_id"),
        concat_ws(" ", col("__kept")).as("text_out"),
        col("n_spans"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_tokens_removed"))
    val untouched = base.join(ivK.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id"), col("__t").as("text_out"),
        lit(0L).as("n_spans"), lit(0L).as("n_tokens_removed"))
    untouched.unionByName(touched)
  }

  /** The keeper corpus's positional gram-hash table `(doc, pos, gh)` —
    * the SUNK artifact of cross-corpus excision (persist/bucket it
    * once; every ingest batch joins against it). `maxDocFreq` drops
    * grams occupying more than that many gram slots corpus-wide
    * (boilerplate blocking, [[sharedSpanPairs]]'s trade). */
  def spanGramTable(df: DataFrame, id: String, text: String, n: Int,
                    maxDocFreq: Int = 0): DataFrame = {
    val g = df.select(col(id).as("doc"),
        posexplode(positionalShingles(col(text), n)).as(Seq("pos", "gram")))
      .select(col("doc"), col("pos"),
        graft.functions.Md5Hash.prefix60(col("gram")).as("gh"))
    if (maxDocFreq <= 0) g
    else g.withColumn("__n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("gh")))
      .filter(col("__n") <= maxDocFreq).drop("__n")
  }

  /** Persist the keeper corpus's span-gram table as a MAINTAINED index
    * (r14): `(doc, pos, gh, maxdf, gen)` bucketed by `gh` (the probe
    * join's key) under the [[graft.io.IndexMaintenance]] generational-
    * tombstone contract — the sunk artifact of ingest-time excision
    * for a keeper corpus that itself evolves (retractions delete,
    * re-ingestions replace). `maxDocFreq` blocks boilerplate grams at
    * SAVE time (the [[sharedSpanPairs]] trade) and is BAKED into the
    * rows (the SymSpell build-param convention), so
    * [[compactSpanGramIndex]] can re-establish the cap over whatever
    * boilerplate uncapped appends let creep back in (r15 — previously
    * the cap eroded until a manual rebuild); appends themselves apply
    * no cap (a cap needs corpus-global frequencies, which only the
    * table-scale compaction scan sees). */
  def saveSpanGramIndex(df: DataFrame, id: String, text: String,
                        table: String, buckets: Int, n: Int,
                        maxDocFreq: Int = 0): Unit = {
    graft.io.Layout.writeBucketed(
      spanGramTable(df, id, text, n, maxDocFreq)
        .withColumn("n", lit(n))
        .withColumn("maxdf", lit(maxDocFreq))
        .withColumn("gen", lit(0L)),
      table, "gh", buckets)
    graft.io.IndexMaintenance.writeParams(df.sparkSession, table,
      Map("n" -> n.toLong, "maxdf" -> maxDocFreq.toLong))
  }

  /** The (n, maxdf) build params of a maintained span-gram index —
    * sidecar first (O(1)), one live row scan + backfill for tables
    * predating it; `None` when the table doesn't exist. The gram
    * order `n` is GUARDED (r15 advice: an append or probe at a
    * different n silently produces gh keys that never match — the
    * same lose-recall-silently failure the MinHash signature guard
    * exists for); pass `n = 0` to skip the n check (legacy tables
    * saved before n was baked have no row to scan it from). */
  private def spanGramParams(
      spark: org.apache.spark.sql.SparkSession, table: String,
      n: Int): Option[(Int, Int)] = {
    if (!spark.catalog.tableExists(table)) return None
    def checkN(savedN: Long): Unit =
      require(n <= 0 || savedN <= 0 || savedN == n.toLong,
        s"span-gram index '$table' was built at n=$savedN but the " +
          s"caller passed n=$n — gram hashes from different orders " +
          "never match (silent recall loss); pass the table's own n " +
          "or rebuild with saveSpanGramIndex")
    graft.io.IndexMaintenance.readParams(spark, table) match {
      case Some(p) =>
        val savedN = p.getOrElse("n", 0L)
        checkN(savedN)
        Some((savedN.toInt, p.getOrElse("maxdf", 0L).toInt))
      case None =>
        val hasN = spark.table(table).schema.fieldNames.contains("n")
        val live = graft.io.IndexMaintenance.load(spark, table, "doc")
        val s =
          if (hasN) live.agg(coalesce(max(col("maxdf")), lit(0)),
            coalesce(min(col("n")), lit(0)), coalesce(max(col("n")), lit(0)))
            .head()
          else live.agg(coalesce(max(col("maxdf")), lit(0))).head()
        val mdf = s.getInt(0)
        val (nLo, nHi) = if (hasN) (s.getInt(1), s.getInt(2)) else (0, 0)
        require(nLo == nHi,
          s"span-gram index '$table' carries mixed gram orders " +
            s"$nLo..$nHi — rebuild with saveSpanGramIndex")
        checkN(nHi)
        graft.io.IndexMaintenance.writeParams(spark, table,
          Map("n" -> (if (nHi > 0) nHi.toLong else n.toLong),
            "maxdf" -> mdf.toLong))
        Some((nHi, mdf))
    }
  }

  /** Append NEW keeper docs' grams — O(batch), gen-stamped, no cap
    * applied (documented trade: corpus-global gram frequencies are a
    * table-scale question — [[compactSpanGramIndex]] re-establishes
    * the cap). Rows carry the SAVED `maxdf` (one tiny-agg probe), so
    * the build param survives appends. Updates to existing docs must
    * route through [[replaceInSpanGramIndex]]. */
  def appendToSpanGramIndex(df: DataFrame, id: String, text: String,
                            table: String, buckets: Int, n: Int): Unit = {
    val spark = df.sparkSession
    val gen = graft.io.IndexMaintenance.currentSeq(spark, table)
    // a first append against a missing table creates it uncapped
    // (maxdf 0) — saveSpanGramIndex is the capped build path; the
    // params probe GUARDS n against the saved order (r15 advice) and
    // reads the O(1) sidecar when present
    val existed = spark.catalog.tableExists(table)
    val mdf = spanGramParams(spark, table, n).map(_._2).getOrElse(0)
    graft.io.Layout.appendBucketed(
      spanGramTable(df, id, text, n)
        .withColumn("n", lit(n))
        .withColumn("maxdf", lit(mdf))
        .withColumn("gen", lit(gen)),
      table, "gh", buckets)
    if (!existed)
      graft.io.IndexMaintenance.writeParams(spark, table,
        Map("n" -> n.toLong, "maxdf" -> mdf.toLong))
  }

  /** Compact a maintained span-gram index AND re-establish its saved
    * `maxDocFreq` cap (r14 verdict "what's missing" 3): the standard
    * generational compaction rewrite, with the live rows re-filtered by
    * corpus-global gram frequency against the `maxdf` the table was
    * built with — appends are uncapped by design, so boilerplate grams
    * re-accumulate and inflate every [[exciseNewFromIndex]] probe join
    * until this runs. The recount sees the LIVE rows (save-time-dropped
    * grams lost their original occurrences permanently — if such a gram
    * re-enters via appends its recount starts from the appended rows
    * only, the documented asymmetry), so after compaction the cap
    * invariant "≤ maxdf rows per gram" holds exactly, and when no
    * save-dropped gram re-entered the served table equals a fresh
    * [[saveSpanGramIndex]] of the same corpus (spec-pinned).
    * `maxdf = 0` (uncapped save) compacts without a filter. */
  def compactSpanGramIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, buckets: Int): Unit =
    graft.io.IndexMaintenance.compactWith(spark, table, "gh", buckets,
      "doc", live => live
        .withColumn("__n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("gh")))
        .filter(col("maxdf") <= 0 || col("__n") <= col("maxdf"))
        .drop("__n"))

  /** Tombstone keeper docs out of a maintained span-gram index. */
  def deleteFromSpanGramIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame,
                              idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "doc",
      ids.select(col(idCol).as("doc")))

  /** Replace keeper docs' grams: tombstone then append. ≡ rebuild. */
  def replaceInSpanGramIndex(df: DataFrame, id: String, text: String,
                             table: String, buckets: Int, n: Int): Unit = {
    deleteFromSpanGramIndex(df.sparkSession, table,
      df.select(col(id)).distinct(), id)
    appendToSpanGramIndex(df, id, text, table, buckets, n)
  }

  /** The live serving view of a maintained span-gram index. */
  def loadSpanGramIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame =
    graft.io.IndexMaintenance.load(spark, table, "doc")

  /** [[exciseNewAgainst]] against the LIVE view of a maintained
    * [[saveSpanGramIndex]] — retracted/replaced keeper docs stop
    * claiming spans in arriving documents. */
  def exciseNewFromIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, incoming: DataFrame,
                         id: String, text: String, n: Int,
                         minRun: Int): DataFrame = {
    // probe-side n guard: grams at a different order than the saved
    // index hash to keys that never match — silent recall loss, the
    // same failure the MinHash signature guard refuses loudly
    spanGramParams(spark, table, n)
    exciseNewAgainst(incoming, loadSpanGramIndex(spark, table), id,
      text, n, minRun)
  }

  /** Cross-corpus shared-span EXCISION — [[exciseSharedSpans]] at
    * INGEST (r14): incoming documents lose every token span of
    * ≥ `minRun + n − 1` tokens they share with the FROZEN keeper
    * corpus, whose gram table ([[spanGramTable]]) is the sunk
    * artifact. The keeper side is never rewritten (it already went
    * through the batch excision); intra-batch duplication is the batch
    * operator's job — this is the arrival-time half of Lee et al.'s
    * pipeline, the contaminationCheck→decontaminate posture applied to
    * exact substrings. Stateless w.r.t. the stream, so the same call
    * is streaming-safe (per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]).
    *
    * Output: one row per INCOMING doc
    * `(doc_id, text_out, n_spans, n_tokens_removed)`.
    *
    * Scale shape: incoming grams are row-local; the only corpus-scale
    * contact is the gram-hash equi-join against the keeper table
    * (batch-bounded probe rows); runs/merge are pair-local windows;
    * the rebuild pays the interpreted filter only on touched incoming
    * docs. */
  def exciseNewAgainst(incoming: DataFrame, keeperGrams: DataFrame,
                       id: String, text: String, n: Int,
                       minRun: Int): DataFrame = {
    require(minRun >= 1, s"need minRun >= 1, got $minRun")
    val inc = incoming
      .select(col(id).as("in_id"),
        posexplode(positionalShingles(col(text), n)).as(Seq("pb", "gram")))
      .select(col("in_id"), col("pb"),
        graft.functions.Md5Hash.prefix60(col("gram")).as("gh"))
    val m = keeperGrams
      .select(col("doc").as("ex_id"), col("pos").as("pa"), col("gh"))
      .join(inc, Seq("gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ex_id", "in_id", "delta").orderBy("pb")
    val spans = m.withColumn("delta", col("pa") - col("pb"))
      .withColumn("__grp", col("pb") - row_number().over(w))
      .groupBy(col("ex_id"), col("in_id"), col("delta"), col("__grp"))
      .agg(min(col("pb")).as("s"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
      .select(col("in_id").as("doc"), col("s").cast("int").as("s"),
        (col("s") + col("run_len") + lit(n - 2)).cast("int").as("e"))
    exciseIntervals(
      incoming.select(col(id).as("doc_id"), col(text).as("__t")), spans)
  }

  /** Corpus-level savings report of [[exciseSharedSpans]] — the
    * before/after effective-token row a capacity plan reads (the q74
    * savings shape for span dedup): docs touched, spans excised, token
    * mass before/after, and removed share in basis points. One
    * aggregate over the excision output. */
  def sharedSpanSavings(df: DataFrame, id: String, text: String, n: Int,
                        minRun: Int, maxDocFreq: Int = 0): DataFrame =
    exciseSharedSpans(df, id, text, n, minRun, maxDocFreq)
      .select(col("n_spans"), col("n_tokens_removed"),
        (size(TextAnalysis.tokens(col("text_out"))).cast("long") +
          col("n_tokens_removed")).as("__before"))
      .agg(count(when(col("n_spans") > 0, 1)).as("n_docs_touched"),
        sum(col("n_spans")).as("n_spans"),
        sum(col("__before")).as("tokens_before"),
        sum(col("__before") - col("n_tokens_removed")).as("tokens_after"),
        sum(col("n_tokens_removed")).as("tokens_removed"))
      .withColumn("removed_bp",
        expr("(10000 * tokens_removed) div greatest(tokens_before, 1)"))

  /** Train→test contamination check (benchmark decontamination — the
    * step an LLM data pipeline runs before any eval split is trusted):
    * for each `test` document, how many of its distinct word `n`-grams
    * appear anywhere in the `train` corpus, and the smallest
    * contaminating train doc id. Only contaminated test docs are
    * returned (inner join).
    *
    * Scale shape: grams are generated and md5-hashed row-locally; the
    * train side collapses to ONE row per distinct gram before the join
    * (partial-agg min on the gram hash — a gram repeated across 10⁹
    * train docs contributes one row, so join volume is bounded by the
    * distinct-gram inventory, not corpus size); candidate matching is a
    * hash equi-join; the result is a per-test-doc partial aggregate.
    * Deterministic: counts of distinct grams + min ids, no floats. */
  def contaminationCheck(train: DataFrame, test: DataFrame, id: String,
                         text: String, n: Int): DataFrame = {
    val trainGrams = trainGramInventory(train, id, text, n)
    val testGrams = test
      .select(col(id).as("test_id"),
        explode(wordShingles(col(text), n)).as("gram"))
      .select(col("test_id"), md5(col("gram")).as("gh"))
    testGrams.join(trainGrams, Seq("gh"))
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_shared_grams"),
        min(col("train_id")).as("sample_train_id"))
  }

  /** The train side of [[contaminationCheck]], exposed for reuse: ONE
    * row per distinct word-n-gram hash in the train corpus, with the
    * smallest containing doc id. Join volume downstream is bounded by
    * the distinct-gram inventory, not corpus size. A held-out stream is
    * checked by running [[contaminationCheck]] itself on it, directly
    * or per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]. Long-lived consumers
    * should `.persist()` the result. */
  def trainGramInventory(train: DataFrame, id: String, text: String,
                         n: Int): DataFrame =
    train
      .select(col(id).as("train_id"),
        explode(wordShingles(col(text), n)).as("gram"))
      .groupBy(md5(col("gram")).as("gh"))
      .agg(min(col("train_id")).as("train_id"))

  /** Asymmetric containment pairs — the near-dup case Jaccard misses by
    * construction: a short document quoted/wrapped INSIDE a much longer
    * one (article + boilerplate shell, quoted post + thread) has
    * containment(A→B) = |grams(A)∩grams(B)| / |grams(A)| ≈ 1 while
    * Jaccard ≈ |A|/|B| ≈ 0, so no symmetric threshold catches it.
    * Output: `(a_id, b_id, cont_a, cont_b)` with a<b, both directions
    * rounded to 4, rows where either direction ≥ `threshold`.
    *
    * Shape: distinct grams per doc are row-local; candidates come from a
    * 60-bit gram-hash equi-join (never theta) with shared counts by
    * partial agg; set sizes join back on the ids. `maxDocFreq` drops
    * grams present in more than that many gram slots corpus-wide
    * (boilerplate blocking — join volume is Σ_gram df², exactly
    * [[sharedSpanPairs]]'s trade): a dropped gram can only LOWER
    * measured containment (denominators stay uncapped), the documented
    * recall trade; 0 disables. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
                       threshold: Double, maxDocFreq: Int = 0): DataFrame = {
    // persisted: feeds the size table and both candidate-join sides
    val g = df.select(col(id).as("doc"),
        explode(wordShingles(col(text), n)).as("gram"))
      .select(col("doc"), graft.functions.Md5Hash.prefix60(col("gram")).as("gh"))
      .persist()
    Caches.track(g)
    val sizes = g.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val capped =
      if (maxDocFreq <= 0) g
      else g.withColumn("__n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
        .filter(col("__n") <= maxDocFreq).drop("__n")
    val shared = capped.as("x").join(capped.as("y"),
        col("x.gh") === col("y.gh") && col("x.doc") < col("y.doc"))
      .groupBy(col("x.doc").as("a_id"), col("y.doc").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("doc").as("a_id"), col("sz").as("a_sz")), "a_id")
      .join(sizes.select(col("doc").as("b_id"), col("sz").as("b_sz")), "b_id")
      .withColumn("cont_a", round(col("shared").cast("double") / col("a_sz"), 4))
      .withColumn("cont_b", round(col("shared").cast("double") / col("b_sz"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("a_id", "b_id", "cont_a", "cont_b")
  }

  /** Bloom-prefiltered contamination check — [[contaminationCheck]]'s
    * shape for when even the distinct-gram inventory is too large to
    * shuffle the full test side against: build ONE fixed-size Bloom
    * bitset over the train inventory's gram hashes (numBits/8 bytes —
    * a map-side-combinable aggregate; each partition ships one bitset),
    * broadcast it, and drop non-member test grams ROW-LOCALLY before
    * the exact verification join. Bloom false positives only inflate
    * the candidate set handed to the exact join — the output is
    * IDENTICAL to the unfiltered exact join, which is why the oracle
    * for this operator is the plain exact-contamination SQL.
    *
    * Gram identity is the repo's 60-bit md5 prefix
    * ([[graft.functions.Md5Hash.prefix60]]) rather than
    * [[contaminationCheck]]'s full md5 string — the same 60-bit gram
    * idiom as [[sharedSpanPairs]] and MinHash (collision odds ~n²/2⁶¹;
    * half the join-key bytes at 100 TB).
    *
    * Sizing: false-positive rate ≈ (1−e^(−numHashes·n/numBits))^numHashes;
    * the default 2²² bits (512 KiB broadcast) holds ~500k grams at <2%
    * FP with 4 hashes. At a billion-gram inventory pass numBits = 2³⁰
    * (128 MiB — still one broadcast vs shuffling the corpus). */
  def bloomDecontaminate(train: DataFrame, test: DataFrame, id: String,
                         text: String, n: Int, numBits: Int = 1 << 22,
                         numHashes: Int = 4): DataFrame = {
    import graft.functions.{BloomFilterAgg, BloomMightContain, Md5Hash}
    // persisted: feeds both the bloom build and the verification join
    val inv = train
      .select(col(id).as("train_id"), explode(wordShingles(col(text), n)).as("gram"))
      .groupBy(Md5Hash.prefix60(col("gram")).as("gh"))
      .agg(min(col("train_id")).as("train_id"))
      .persist()
    Caches.track(inv)
    // The bitset is COLLECTED (one map-side-combined aggregate job — the
    // same trained-artifact shape as collected k-means centroids) and
    // probed as a LITERAL, deliberately NOT carried as a joined column:
    // a binary column attached via a broadcast join is copied into every
    // joined row's buffer — at numBits = 2³⁰ that is a 128 MiB memcpy
    // PER TEST GRAM, which at 100 TB is the job. A literal is one shared
    // object per executor, and the probe filter fuses into the test-side
    // scan. (Measured on the bench corpus: the column form cost ~4.5 s
    // of pure row-widening; the literal form is noise.) The eager build
    // is the documented cost of calling this operator — compose
    // [[trainGramInventory]]-side artifacts yourself if you need full
    // laziness.
    val bloom: Array[Byte] = inv
      .agg(BloomFilterAgg.agg(col("gh"), numBits, numHashes).as("__bloom"))
      .head().getAs[Array[Byte]](0)
    val testGrams = test
      .select(col(id).as("test_id"), explode(wordShingles(col(text), n)).as("gram"))
      .select(col("test_id"), Md5Hash.prefix60(col("gram")).as("gh"))
    testGrams
      .filter(BloomMightContain.col(col("gh"), lit(bloom), numHashes))
      .join(inv, Seq("gh"))
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_shared_grams"),
        min(col("train_id")).as("sample_train_id"))
  }

  /** Per-document n-gram novelty vs a reference corpus — the inverse
    * reading of [[contaminationCheck]], used as a QUALITY/VALUE signal
    * rather than a gate: how much of each document's distinct-gram mass
    * is new relative to what the pipeline already holds (novelty ≈ 0 →
    * boilerplate/rehash, candidates for down-sampling; ≈ 1 → fresh
    * content worth keeping). Output: `(id, n_grams, n_known,
    * novelty = 1 − known/grams rounded to 4)`; token-less documents
    * carry no grams and drop out.
    *
    * Scale shape identical to [[contaminationCheck]]: the reference
    * collapses to one row per distinct gram hash BEFORE the join (join
    * volume bounded by the gram inventory), everything else is
    * row-local + partial-agg counts. */
  def noveltyProfile(df: DataFrame, ref: DataFrame, id: String,
                     text: String, n: Int): DataFrame = {
    val inv = trainGramInventory(ref, id, text, n)
      .select(col("gh"), lit(1).as("__k"))
    df.select(col(id), explode(wordShingles(col(text), n)).as("gram"))
      .select(col(id), md5(col("gram")).as("gh"))
      .join(inv, Seq("gh"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), count(col("__k")).as("n_known"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_known").cast("double") / col("n_grams"), 4))
  }

  /** Connected components over a near-duplicate pair graph → cluster
    * assignment (the "keep one per cluster" step of a dedup pipeline).
    * Iterative min-label propagation with POINTER JUMPING: each round
    * runs two edge hops (labels flow through the pair graph twice) and
    * then a jump (`label(v) ← label(label(v))` — a self-join on the
    * label table, valid because labels are always node ids of the pair
    * graph). The hops move the min label across edges; the jump
    * compresses the implicit label-forest paths, doubling the distance
    * already-labeled information travels per round — so a diameter-D
    * component converges in O(log D) rounds (the Shiloach-Vishkin /
    * hash-to-min shortcut), not D/2: a 10⁴-long adversarial chain
    * closes in ~15 driver rounds instead of 5 000. Each hop/jump is a
    * bucketed equi-join + partial-agg min; the three steps of a round
    * fuse into one Catalyst plan, so the driver pays one
    * `localCheckpoint` + one convergence probe per round — the round
    * COUNT (driver sync, scheduling, lineage truncation) is the
    * dominant cost at scale, not the per-hop join over the (tiny) pair
    * graph. Deterministic: cluster id = min doc id of the component.
    *
    * Throws if `maxIter` rounds pass with labels still moving: a
    * partially-propagated assignment is a silent wrong answer (two docs
    * of one component under different cluster ids), the worst failure
    * mode — a component wider than that must raise the limit
    * explicitly, not get a plausible-looking result. */
  def dedupClusters(nodes: DataFrame, id: String, pairs: DataFrame,
                    maxIter: Int = 20): DataFrame = {
    // Iterate over PAIR MEMBERS only: duplicate families are a vanishing
    // fraction of the corpus, so the label-propagation loop runs on the
    // pair graph (tiny) and singletons join back as identity at the end —
    // never shuffle the full corpus per round.
    // Persist the INPUT pair table before the column-swapped union (the
    // pairGraphRank lesson): the eager localCheckpoint evaluates both
    // branches, so an unpersisted expensive generator (the LSH band
    // join) would run twice — measured 1.9 → 1.5 s on the q34 shape.
    val p = Caches.track(pairs.persist())
    val und = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    // one min-label hop; `orig` (the label at round start) rides through
    // both hops so the movement flag needs no extra join per round
    def hop(cur: DataFrame): DataFrame = {
      val neighborMin = und
        .join(cur.select(col("node"), col("cluster")), col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("cluster")).as("ncluster"))
      cur.join(neighborMin, cur("node") === neighborMin("src"), "left")
        .select(cur("node"),
          least(cur("cluster"), coalesce(col("ncluster"), cur("cluster")))
            .as("cluster"),
          cur("orig"))
    }
    // pointer jump: every cluster value is itself a node of the pair
    // graph (self-labels initially; hops/jumps only ever adopt another
    // node's label), so label(label(v)) is one self-join — the path-
    // compression step that makes chain-shaped components close in
    // O(log D) rounds instead of D/2
    def jump(cur: DataFrame): DataFrame = {
      val par = cur.select(col("node").as("pnode"), col("cluster").as("pcluster"))
      cur.join(par, cur("cluster") === par("pnode"), "left")
        .select(cur("node"),
          least(cur("cluster"), coalesce(col("pcluster"), cur("cluster")))
            .as("cluster"),
          cur("orig"))
    }
    // SEEDED init: label₀ = min(node, min(neighbors)) — one groupBy over
    // the edge list (the same shuffle the old `distinct` paid) that
    // starts every node one hop ahead. For clique-shaped families (the
    // common dup case) the seeded state is ALREADY the fixpoint, so the
    // loop runs one confirming round instead of two — the r7 verdict's
    // q34 shave. Seeds are node ids (min over a closed neighborhood),
    // so the jump's "labels are nodes" precondition holds unchanged.
    var labels = und.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("cluster"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // labels only decrease, so moved-this-round ⇔ final < orig; zero
      // total movement means the edge hop alone was a no-op, which is
      // exactly the per-edge-constant fixpoint — the jump can never be
      // the only mover (label(label(v)) = label(v) once hops fix)
      val next = jump(hop(hop(labels.withColumn("orig", col("cluster")))))
        .withColumn("__moved", col("cluster") < col("orig"))
        .localCheckpoint(true)
      converged = next.filter(col("__moved")).isEmpty
      labels = next.select("node", "cluster")
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge after $maxIter hop-hop-jump " +
        "rounds — with pointer jumping that needs a component of " +
        "diameter ≳ 2^maxIter; raise maxIter (returning partially-" +
        "propagated labels would silently split one component across " +
        "cluster ids)")
    // no broadcast hint: AQE picks broadcast at runtime when the label
    // table is small; a fixed hint would OOM if dup families are huge
    nodes.select(col(id))
      .join(labels, nodes(id) === labels("node"), "left")
      .select(col(id), coalesce(col("cluster"), col(id)).as("cluster"))
      .withColumn("is_kept", col(id) === col("cluster"))
  }

  /** Chunk-level shared-content report — exact dedup at CHUNK
    * granularity, between document-level exact dedup (q15: whole-text
    * only) and line-level boilerplate stripping (q97: 8-token lines):
    * fixed non-overlapping token chunks
    * ([[TextAnalysis.chunkDocuments]] at stride = chunkTokens), a
    * chunk is SHARED iff its exact text appears in more than one
    * distinct document. Per document: chunk count, shared-chunk count,
    * and the single-rounded shared ratio — the "how much of this doc
    * is cross-document boilerplate" gate signal at RAG-chunk
    * resolution.
    *
    * Shape: chunking is row-local posexplode; ONE hash-groupBy over
    * chunk digests (map-side combinable) + one narrow digest join back
    * + one per-doc groupBy. Only `(id, md5)` pairs ever shuffle —
    * never chunk text. Output:
    * `(id, n_chunks, n_shared_chunks, shared_ratio)`. */
  def chunkSharedReport(df: DataFrame, id: String, text: String,
                        chunkTokens: Int): DataFrame = {
    val ch = TextAnalysis.chunkDocuments(df, id, text, chunkTokens,
        stride = chunkTokens)
      .select(col(id), md5(col("chunk_text")).as("__h"))
    val fam = ch.groupBy(col("__h"))
      .agg(countDistinct(col(id)).as("__nd"))
    ch.join(fam, Seq("__h"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      .withColumn("shared_ratio",
        round(col("n_shared_chunks").cast("double") / col("n_chunks"), 4))
  }

  /** Exact duplicate-SPAN removal — the rewrite form of exact substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022, at fixed n-gram granularity): every
    * token position covered by a NON-CANONICAL occurrence of a
    * duplicated n-gram is cut, and the document is reassembled from
    * the surviving tokens — duplicated passages keep exactly one copy
    * corpus-wide (their first occurrence by (id, pos)), unlike
    * document-level dedup which can only drop whole rows. Also
    * collapses WITHIN-document repetition (a k-times repeated span
    * keeps its first copy).
    *
    * Canonical occurrence = min packed key `id·2²⁰ + pos` per gram —
    * computed as ONE map-side-combinable groupBy (the W1 max-struct
    * shape, no window), so a viral gram never builds a whale sort
    * partition. Cover positions stay as duplicate-bearing rows (a left
    * ANTI join ignores right-side multiplicity — no distinct shuffle),
    * and reassembly is the q97 ordered re-aggregation (array_sort over
    * collect_list, no window). Only `(id, pos, gram-md5)` ever
    * shuffles; fully-removed docs stay row-aligned with empty text.
    * Positions must fit 2²⁰ tokens/doc and ids 2⁴² (packed-key
    * domain; both loudly exceeded, not wrapped, under ANSI).
    * Output: `(id, kept_text, n_kept, n_removed)`. */
  def removeDuplicateSpans(df: DataFrame, id: String, text: String,
                           n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val t = df.select(col(id), TextAnalysis.tokens(col(text)).as("__toks"))
    val tok = t.select(col(id),
      posexplode(col("__toks")).as(Seq("pos", "tk")))
    // PERSISTED: the two consumers below (the gh-keyed family aggregate
    // and the gh-keyed cover join) cannot share an exchange — the
    // aggregate's exchange carries partially-aggregated rows, the
    // join's carries raw grams — so without the persist the md5-per-gram
    // generation runs twice (measured: 2.2-2.6 → 1.9-2.3 s at sf0.1).
    // This is the exception to the "row-local recompute beats a cache"
    // rule (q54): an md5 over every sliding window is heavier than the
    // cache materialization. The alternative (count/min as a window
    // over gh — one shuffle, no persist) is deliberately rejected: a
    // viral gram would build a whale partition.
    val grams = Caches.track(t.filter(size(col("__toks")) >= n)
      .select(col(id), explode(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => struct(i.as("pos"),
          md5(array_join(slice(col("__toks"), i + 1, lit(n)), " ")).as("gh"))))
        .as("g"))
      .select(col(id), col("g.pos").as("pos"), col("g.gh").as("gh"))
      .persist())
    val packed = col(id).cast("long") * lit(1048576L) + col("pos")
    val fam = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("__c"), min(packed).as("__ck"))
    val cover = grams.join(fam, Seq("gh"))
      .filter(col("__c") > 1 && packed =!= col("__ck"))
      .select(col(id).as("__cid"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("__p"))
    val kept = tok.join(cover,
      tok(id) === cover("__cid") && tok("pos") === cover("__p"), "left_anti")
    val agg = kept.groupBy(col(id)).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tk")))),
        x => x("tk"))).as("kept_text"),
      count(lit(1)).as("n_kept"))
    df.select(col(id), TextAnalysis.tokenCount(col(text)).cast("long")
        .as("__n"))
      .join(agg, Seq(id), "left")
      .select(col(id), coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Corpus-wide BOILERPLATE LINE removal — the line-level sibling of
    * [[removeDuplicateSpans]] (RefinedWeb §3.1 / CCNet-style: nav
    * menus, cookie banners, "subscribe" footers repeat VERBATIM as
    * whole lines across many pages). A line whose trimmed form appears
    * in at least `minDocs` DISTINCT documents is boilerplate and is
    * removed from EVERY document (unlike span dedup, which keeps the
    * first occurrence — boilerplate has no canonical owner worth
    * keeping). Empty-after-trim lines are never candidates and are
    * always kept (they carry document structure, not content).
    *
    * Shape: lines carry an md5 key so the corpus-frequency aggregate
    * and the marking join shuffle a 32-char hash, not the line text;
    * the distinct-doc count is the two-phase distinct (`(gh, id)`
    * pre-distinct feeding a map-side-combinable count — no
    * count-distinct expand); reassembly is the q97 ordered
    * re-aggregation (array_sort over collect_list, no window). Docs
    * whose every line is boilerplate stay row-aligned with empty text.
    * Output: `(id, clean_text, n_lines, n_removed, chars_removed)`. */
  def removeBoilerplateLines(df: DataFrame, id: String, text: String,
                             minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    applyBoilerplateLines(df, id, text,
      boilerplateLineSet(df, id, text, minDocs))
  }

  /** The corpus-frequency half of [[removeBoilerplateLines]]: the md5
    * keys of trimmed lines appearing in ≥ `minDocs` distinct docs —
    * the artifact worth PERSISTING (train once on the reference
    * corpus, apply to any stream/batch via
    * [[applyBoilerplateLines]]). Output: `(line_md5, n_docs)`. */
  def boilerplateLineSet(df: DataFrame, id: String, text: String,
                         minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    df.select(col(id),
        explode(split(col(text), "\n")).as("__l"))
      .select(col(id), trim(col("__l")).as("__t"))
      .filter(col("__t") =!= "")
      .select(md5(col("__t")).as("line_md5"), col(id)).distinct()
      .groupBy(col("line_md5")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** The rewrite half of [[removeBoilerplateLines]] against an
    * ALREADY-BUILT line set (sunk build cost — the serving posture):
    * mark each doc's lines against `boiler` by md5 equi-join,
    * reassemble in order. Per-micro-batch safe (no corpus statistics
    * recomputed), so it runs at ingest per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]. */
  def applyBoilerplateLines(df: DataFrame, id: String, text: String,
                            boiler: DataFrame): DataFrame = {
    val lines = df
      .select(col(id), posexplode(split(col(text), "\n"))
        .as(Seq("pos", "__l")))
      .withColumn("__t", trim(col("__l")))
      .withColumn("__gh", when(col("__t") =!= "", md5(col("__t"))))
    val marked = lines.join(
      boiler.select(col("line_md5").as("__bh")),
      lines("__gh") === col("__bh"), "left")
    val agg = marked.groupBy(col(id)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("__bh").isNotNull, 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("__bh").isNotNull, length(col("__l")))
        .otherwise(0L)).as("chars_removed"),
      concat_ws("\n", transform(
        array_sort(collect_list(when(col("__bh").isNull,
          struct(col("pos"), col("__l"))))),
        x => x("__l"))).as("clean_text"))
    df.select(col(id)).join(agg, Seq(id), "left")
      .select(col(id), coalesce(col("clean_text"), lit(""))
          .as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"))
  }

  /** END-TO-END corpus near-dedup in ONE Catalyst-planned call — the
    * composition a pipeline user actually wants from the dedup stack:
    * candidate pairs ([[minHashLshPairs]]: banded equi-join, exact
    * duplicates included by construction — identical text ⇒ identical
    * signature ⇒ every band collides), connected families
    * ([[dedupClusters]]: log-round pointer jumping on the pair graph
    * only), deterministic winner selection (min id per family — the
    * repo-wide tie-break), and the REWRITTEN corpus: one row per
    * surviving document with its family's savings attached. The pieces
    * stay independently exposed (q17/q34/q74); this is the one-call
    * flagship over them, the q54/q68 pattern applied to dedup.
    *
    * Scale shape inherits from the pieces: nothing all-pairs, the
    * corpus text column rides only the final narrow-key joins (never a
    * shuffle keyed on content), family stats are one groupBy of the
    * label table. Output: `(id, text, family_size, dup_docs,
    * dup_mass)` where `dup_mass` is the `size` mass the winner's
    * family sheds (0 for singletons). */
  def dedupCorpus(df: DataFrame, id: String, text: String, size: String,
                  numHashes: Int = 12, bands: Int = 4,
                  threshold: Double = 0.5, maxBucket: Int = 0): DataFrame =
    dedupCorpusFromPairs(df, id, text, size,
      minHashLshPairs(df, id, text, numHashes, bands, threshold, maxBucket))

  /** [[dedupCorpus]]'s family/winner/stats machinery over ANY pair
    * relation (`(a_id, b_id)` columns — edit-distance, winnowing,
    * SimHash, semantic, or a fused set): the detector is a pluggable
    * first stage, everything downstream (pointer-doubled clustering,
    * min-id winner, family stats) is shared. */
  def dedupCorpusFromPairs(df: DataFrame, id: String, text: String,
                           size: String, pairs: DataFrame): DataFrame = {
    val clusters = dedupClusters(df, id, pairs)
    val stats = df.select(col(id), col(size).cast("long").as("__sz"))
      .join(clusters, Seq(id))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("family_size"), sum(col("__sz")).as("__fam_mass"))
    df.join(clusters.filter(col("is_kept")).select(col(id), col("cluster")),
        Seq(id))
      .join(stats, Seq("cluster"))
      .select(col(id), col(text), col("family_size"),
        (col("family_size") - 1).as("dup_docs"),
        (col("__fam_mass") - col(size).cast("long")).as("dup_mass"))
  }

  /** [[dedupCorpus]] with QUALITY-AWARE winner selection — keep the
    * highest-scoring copy per near-dup family instead of the smallest
    * id (the RefinedWeb-style canonicalization: near-duplicate crawls
    * differ in truncation and boilerplate, so "longest" or "highest
    * quality-classifier score" keeps the best text while min-id keeps
    * an arbitrary one). Winner = argmax(score), ties to the smaller id
    * — a `max_by` over a unique (score, −id) key, codegen'd (never a
    * struct-max SortAggregate). Same pair→family machinery and savings
    * columns as [[dedupCorpus]]; `score` is any int64 column
    * (`n_chars`, a q112 classifier score, a q123 LM score…). */
  def dedupCorpusBest(df: DataFrame, id: String, text: String,
                      size: String, score: String, numHashes: Int = 12,
                      bands: Int = 4, threshold: Double = 0.5,
                      maxBucket: Int = 0): DataFrame = {
    val pairs = minHashLshPairs(df, id, text, numHashes, bands, threshold,
      maxBucket)
    val clusters = dedupClusters(df, id, pairs)
    val slim = df.select(col(id), col(size).cast("long").as("__sz"),
        col(score).cast("long").as("__sc"))
      .join(clusters.select(col(id), col("cluster")), Seq(id))
    val fam = slim.groupBy(col("cluster"))
      .agg(count(lit(1)).as("family_size"),
        sum(col("__sz")).as("__fam_mass"),
        // min over (-score, id) = best score, tie -> smallest id — stays
        // type-generic over any orderable id (negating the id instead
        // would demand a signed numeric id and overflow at Long.MinValue;
        // __sc is already declared int64 so -__sc is safe)
        min_by(col(id), struct(-col("__sc"), col(id))).as("__win"))
    df.join(fam.select(col("__win").as(id), col("family_size"),
        col("__fam_mass")), Seq(id))
      .select(col(id), col(text), col("family_size"),
        (col("family_size") - 1).as("dup_docs"),
        (col("__fam_mass") - col(size).cast("long")).as("dup_mass"))
  }

  /** Effective-token report — the one-row answer to "how big is this
    * corpus REALLY": raw docs/tokens, and the docs/tokens that survive
    * exact dedup (one winner per content family). `dup_token_share` is
    * the fraction of token mass an exact-dedup pass deletes — the first
    * number a pretraining budget discussion needs, and the denominator
    * honest epochs-per-token math uses.
    *
    * Shape: one hash-groupBy to families (identical text ⇒ identical
    * token count, so the family carries `count × tokens`), one global
    * 1-row rollup. Exact integers + one final rounding. */
  def effectiveTokenReport(df: DataFrame, id: String,
                           text: String): DataFrame =
    df.select(md5(col(text)).as("h"),
        TextAnalysis.tokenCount(col(text)).cast("long").as("t"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(col("t")).as("t"))
      .agg(sum(col("c")).as("total_docs"),
        count(lit(1)).as("distinct_docs"),
        sum(col("c") * col("t")).as("total_tokens"),
        sum(col("t")).as("effective_tokens"))
      .select(col("total_docs"), col("distinct_docs"), col("total_tokens"),
        col("effective_tokens"),
        round(lit(1.0) -
          col("effective_tokens").cast("double") / col("total_tokens"), 4)
          .as("dup_token_share"))

  /** Cross-source duplication matrix — "how much of source A is copies
    * of source B": for every source pair, the number of distinct
    * content hashes BOTH carry, next to each side's distinct-content
    * total (shared/n_a = the fraction of A's distinct content that also
    * lives in B — the mirror-site / scraped-twice panel a mixture
    * design needs before weighting sources as if they were
    * independent). Within-source duplicates collapse first (the
    * distinct), so the matrix reports CONTENT overlap, not copy counts.
    *
    * Shape: one (source, md5) distinct — the only corpus-scale shuffle,
    * map-side combinable — then a hash-keyed self-join whose per-hash
    * pair term is bounded by |sources|² (tens), and a |sources|-row
    * totals join. Output: `(src_a, src_b, n_a, n_b, n_shared)`,
    * src_a < src_b; pairs with zero overlap are omitted. */
  /** Soft dedup — keep every near-duplicate but DOWN-WEIGHT it: each doc
    * carries `weight_bp = 10⁴ div family_size`, so a family's total
    * sampling mass ≈ one document's regardless of copy count (the
    * "sample ∝ 1/duplicates" alternative to [[dedupCorpus]]'s hard
    * removal — preferred when duplicates carry meaningful variation, e.g.
    * quoted-with-commentary, and a downstream weighted sampler exists).
    * Same pair→family machinery as the hard path; one |families|-key
    * size rollup + a narrow label join on top. Output:
    * `(id, family, family_size, weight_bp)` — singletons weigh 10⁴. */
  def softDedupWeights(df: DataFrame, id: String, text: String,
                       numHashes: Int = 12, bands: Int = 4,
                       threshold: Double = 0.5,
                       maxBucket: Int = 0): DataFrame = {
    val clusters = dedupClusters(df, id,
      minHashLshPairs(df, id, text, numHashes, bands, threshold, maxBucket))
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("family_size"))
    clusters.select(col(id), col("cluster").as("family"))
      .join(sizes.withColumnRenamed("cluster", "family"), Seq("family"))
      .select(col(id), col("family"), col("family_size"),
        expr("10000 div family_size").cast("long").as("weight_bp"))
  }

  def crossSourceDupMatrix(df: DataFrame, source: String,
                           text: String): DataFrame =
    sourceOverlapMatrix(
      df.select(col(source), md5(col(text)).as("__sig")), source, "__sig")

  /** [[crossSourceDupMatrix]] at N-GRAM granularity — catches the
    * cross-source overlap whole-document hashing misses (sources that
    * quote, wrap, or partially mirror each other share grams long
    * before they share full documents): signatures are the native
    * shingle hashes, everything else is the same matrix core. */
  def crossSourceSharedGrams(df: DataFrame, source: String, text: String,
                             n: Int): DataFrame =
    sourceOverlapMatrix(
      df.select(col(source), explode(wordShingles(col(text), n)).as("__g"))
        .select(col(source), md5(col("__g")).as("__sig")),
      source, "__sig")

  /** The matrix core shared by [[crossSourceDupMatrix]] (whole-document
    * md5), [[crossSourceSharedGrams]] (shingle hashes), and any caller
    * with its own signature relation (minhash bands, image dHashes):
    * distinct (source, signature) once — the only corpus-scale
    * shuffle — then a signature-keyed self-join whose per-signature
    * pair term is bounded by |sources|², and a |sources|-row broadcast
    * totals join. */
  def sourceOverlapMatrix(sig0: DataFrame, source: String,
                          h: String): DataFrame = {
    val sig = Caches.track(sig0.select(col(source).as("__src"),
      col(h).as("__h")).distinct().persist())
    val totals = sig.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val pairs = sig.select(col("__src").as("src_a"), col("__h"))
      .join(sig.select(col("__src").as("src_b"), col("__h")), Seq("__h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("__src").as("src_a"),
        col("__n").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("__src").as("src_b"),
        col("__n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"))
  }

  /** Corpus snapshot diff — the incremental-ingestion primitive: compare
    * two snapshots of a document table by content hash and emit one row
    * per DELTA — `added` (id only in `newDf`), `removed` (id only in
    * `oldDf`), `changed` (both, different content). Unchanged documents
    * are deliberately NOT emitted: at 100 TB the delta set is the small
    * output a pipeline acts on (re-embed, re-chunk, tombstone), and the
    * unchanged set is derivable as `newDf` anti-join the deltas.
    * `content_hash` carries the NEW content's md5 (null for removals) so
    * downstream stages can route without re-reading the snapshot.
    *
    * Scale shape: md5 is row-local; the only shuffle is one full-outer
    * hash equi-join on the id; the filter drops the (dominant) unchanged
    * matches before anything downstream. Deterministic — a pure function
    * of the two snapshots. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
                   text: String): DataFrame = {
    val o = oldDf.select(col(id), md5(col(text)).as("__old_h"))
    val n = newDf.select(col(id), md5(col(text)).as("__new_h"))
    o.join(n, Seq(id), "full_outer")
      .withColumn("status",
        when(col("__old_h").isNull, "added")
          .when(col("__new_h").isNull, "removed")
          .when(col("__old_h") =!= col("__new_h"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col(id), col("status"), col("__new_h").as("content_hash"))
  }

  private val SimHashBits = 60 // 15 hex chars of md5 → fits a positive Long

  /** 60-bit SimHash over whitespace tokens (with multiplicity): bit j of
    * the fingerprint is set iff Σ_tokens (±1 by bit j of md5(token)) > 0.
    * Entirely row-local HOF arithmetic. */
  def simHash(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(text),
      w => graft.functions.Md5Hash.prefix60(w))
    (0 until SimHashBits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Fingerprint table `(doc, sim)` via explode + ONE native vote
    * aggregate ([[graft.functions.SimHashVotes]]). Semantically identical
    * to [[simHash]] for documents with ≥1 token (token-less documents
    * drop out — they carry no content signal).
    *
    * Why not the [[simHash]] column directly: higher-order functions run
    * interpreted (no whole-stage codegen), and the 60 per-bit folds walk
    * the token array 60 times per row. Here each token is one row, the
    * md5 runs once, and the vote fold is a single `long[60]`-buffer
    * aggregate with map-side partial aggregation — the shuffle carries
    * only |docs|·cores partial buffers, not tokens, and each input row
    * pays one update call instead of 60 separate aggregate expressions
    * (the [[simHashTableCompositional]] form, kept as the executable
    * specification — DedupSpec pins bit-equality). */
  private def simHashTable(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).as("doc"),
        explode(TextAnalysis.tokens(col(text))).as("w"))
      .withColumn("h", graft.functions.Md5Hash.prefix60(col("w")))
      .groupBy(col("doc"))
      .agg(graft.functions.SimHashVotes.agg(col("h")).as("sim"))

  /** Spec-visible handle on the native fingerprint table. */
  private[graft] def simHashPairsFingerprints(
      df: DataFrame, id: String, text: String): DataFrame =
    simHashTable(df, id, text)

  /** Executable specification of [[simHashTable]]: the same fingerprint
    * from 60 separate codegen'd `sum` expressions + a vote→bit
    * post-projection. Package-visible for the bit-equality spec only —
    * production paths use the fused native aggregate. */
  private[graft] def simHashTableCompositional(
      df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id).as("doc"),
      explode(TextAnalysis.tokens(col(text))).as("w"))
      .withColumn("h", graft.functions.Md5Hash.prefix60(col("w")))
    val votes = (0 until SimHashBits).map { j =>
      sum(shiftright(col("h"), j) % 2 * 2 - 1).as(s"v$j")
    }
    toks.groupBy(col("doc")).agg(votes.head, votes.tail: _*)
      .select(col("doc"),
        (0 until SimHashBits).map { j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("sim"))
  }

  /** Pigeonhole band keys for a fingerprint table: `(…, ck, cv)` rows,
    * one per chunk, with BALANCED chunk widths (bits/chunks, +1 for the
    * first bits%chunks chunks) so every chunk is non-empty and the union
    * exactly covers [0, bits) — a ceil-width split would leave the top
    * chunk short or empty, either losing the pigeonhole guarantee or
    * funnelling every row into one degenerate bucket. Slices use an
    * UNSIGNED shift so full-width 64-bit fingerprints band correctly. */
  private[graft] def hammingKeyed(fp: DataFrame, id: String, fpCol: String,
                                  bits: Int, chunks: Int): DataFrame = {
    val widths = Array.tabulate(chunks)(c =>
      bits / chunks + (if (c < bits % chunks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    fp.select(col(id).as("__doc"), col(fpCol).as("__fp"),
      posexplode(array((0 until chunks).map { c =>
        val mask = if (widths(c) >= 64) -1L else (1L << widths(c)) - 1L
        shiftrightunsigned(col(fpCol), starts(c)).bitwiseAND(mask)
      }: _*)).as(Seq("ck", "cv")))
  }

  /** Hamming-distance near-dup pairs over ANY int64 fingerprint table
    * (SimHash text fingerprints, perceptual image dHashes, ...).
    * Candidate generation by the pigeonhole principle: the `bits`-bit
    * fingerprint is cut into (maxDist+1) chunks; any pair within maxDist
    * must agree on at least one chunk, so an equi-join on (chunk index,
    * chunk value) has recall 1.0 — provably identical output to the O(n²)
    * scan, at bucketed-join cost. Chunks slice with an UNSIGNED shift so
    * full-width 64-bit fingerprints (sign bit set) band correctly.
    * Output: `(a_id, b_id, hd)` with a_id < b_id. */
  def hammingPairs(fp: DataFrame, id: String, fpCol: String, bits: Int,
                   maxDist: Int, maxBucket: Int = 0): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64]: $bits")
    require(maxDist >= 0 && maxDist < bits, s"bad maxDist $maxDist for $bits bits")
    val keyed0 = hammingKeyed(fp, id, fpCol, bits, maxDist + 1)
    // maxBucket = 0 (default) keeps the provable pigeonhole recall; > 0
    // drops band buckets larger than the cap — the skew valve for a
    // viral fingerprint value shared by a crowd (that crowd is a
    // mass-duplicate CLUSTER, better handled by exact-key dedup than by
    // a quadratic pair explosion; a capped run loses only pairs whose
    // EVERY agreeing chunk is crowd-shared)
    val keyed =
      if (maxBucket <= 0) keyed0
      else keyed0.join(
        keyed0.groupBy(col("ck"), col("cv"))
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= maxBucket).select(col("ck"), col("cv")),
        Seq("ck", "cv"))
    keyed.as("x").join(keyed.as("y"),
        col("x.ck") === col("y.ck") && col("x.cv") === col("y.cv") &&
          col("x.__doc") < col("y.__doc"))
      .select(col("x.__doc").as("a_id"), col("y.__doc").as("b_id"),
        bit_count(col("x.__fp").bitwiseXOR(col("y.__fp"))).as("hd"))
      .distinct()
      .filter(col("hd") <= maxDist)
  }

  /** Incremental form of [[hammingPairs]]: pairs BETWEEN an existing
    * fingerprint table and an incoming batch only (the snapshot-growth
    * shape, like [[incrementalMinHashPairs]]) — existing×existing pairs
    * were reported when those rows arrived, so the band join is
    * cross-side-only and cost scales with the INCOMING batch, not the
    * accumulated corpus. Same pigeonhole banding, same provable recall.
    * Output: `(existing_id, incoming_id, hd)`. */
  def incrementalHammingPairs(existingFp: DataFrame, incomingFp: DataFrame,
                              id: String, fpCol: String, bits: Int,
                              maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64]: $bits")
    require(maxDist >= 0 && maxDist < bits, s"bad maxDist $maxDist for $bits bits")
    hammingKeyed(existingFp, id, fpCol, bits, maxDist + 1).as("x")
      .join(hammingKeyed(incomingFp, id, fpCol, bits, maxDist + 1).as("y"),
        col("x.ck") === col("y.ck") && col("x.cv") === col("y.cv"))
      .select(col("x.__doc").as("existing_id"), col("y.__doc").as("incoming_id"),
        bit_count(col("x.__fp").bitwiseXOR(col("y.__fp"))).as("hd"))
      .distinct()
      .filter(col("hd") <= maxDist)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist — the 60-bit
    * text instantiation of [[hammingPairs]]. The fingerprint table is
    * persisted — it feeds both sides of the self-join. */
  def simHashPairs(df: DataFrame, id: String, text: String,
                   maxDist: Int): DataFrame = {
    val withSim = Caches.track(simHashTable(df, id, text).persist())
    hammingPairs(withSim, "doc", "sim", SimHashBits, maxDist)
  }

  /** LSH parameter planning (driver-side analysis, no data touched):
    * with `bands` bands of `rows` hashes, a pair at Jaccard similarity
    * `s` collides in ≥1 band with probability `1 − (1 − s^rows)^bands`
    * (the S-curve), and the curve's threshold — where catch probability
    * crosses ~½ — sits near `(1/bands)^(1/rows)`. A pipeline sizes
    * (bands, rows) by checking the catch rate AT its dedup threshold
    * and the false-candidate rate below it; this makes the existing
    * `numHashes = bands·rows` choice auditable instead of folklore.
    * Pure driver floats (an ADVISORY number, never data-path — the
    * data path stays on exact hashes). */
  /** Edit-distance near-duplicate pairs: every unordered pair of rows in
    * the same `within` group whose text lengths differ by at most
    * `maxLenDiff` and whose Levenshtein distance is at most `maxDist`
    * (exact — insert/delete/substitute at unit cost), as
    * `(id_a, id_b, dist)` with `id_a < id_b`.
    *
    * Candidate generation is a banded length-bucket equi-join (the same
    * pigeonhole shape as [[hammingPairs]]): bucket width `maxLenDiff + 1`
    * guarantees a qualifying pair lands in the same or adjacent buckets,
    * so the probe side is exploded to buckets `(k, k+1)` and joined
    * against the plain side's own bucket — never a length theta-join.
    * Each unordered pair is matched EXACTLY once (same-bucket pairs match
    * in both orientations, the strict `(len, id)` lexicographic order
    * keeps one; adjacent-bucket pairs only ever match with the shorter
    * text on the probe side), so no post-join `distinct` and the
    * distance is computed once per pair. Verification is the native
    * bit-parallel Myers DP ([[graft.functions.LevMyersExpr]], ~5 word
    * ops per 64 DP rows per column — measured 14× over the built-in's
    * banded threshold form, which was 7× over the full table; q-gram /
    * char-histogram prefilters were measured near-powerless on
    * same-vocabulary corpora and are deliberately absent), and the
    * length filter rejects before any distance work.
    *
    * Note `dist >= |len_a - len_b|` always, so `maxLenDiff >= maxDist`
    * is the lossless configuration; a tighter `maxLenDiff` is an
    * explicit candidate cap (documents of very different lengths cannot
    * be near-dups at small `maxDist` anyway).
    *
    * 100 TB posture: candidate volume is bounded by the length-band ×
    * `within`-group co-occurrence, the join is a plain equi-join AQE can
    * re-plan, and the only wide column shuffled is the text itself —
    * which any exact distributed edit-distance verifier must move. */
  def editDistancePairs(df: DataFrame, id: String, text: String,
                        within: Seq[String], maxLenDiff: Int,
                        maxDist: Int): DataFrame = {
    require(maxLenDiff >= 0, s"need maxLenDiff >= 0, got $maxLenDiff")
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    val w = maxLenDiff + 1
    val base = df.select(
      (col(id) +: col(text) +: within.map(col)) :+
        length(col(text)).cast("long").as("__len"): _*)
      // integer bucketing: `div`, never `/` (double division)
      .withColumn("__b", expr(s"__len div $w"))
    def side(p: String) = base.select(
      col(id).as(s"${p}_id") +: col(text).as(s"__t$p") +:
        col("__len").as(s"__l$p") +: col("__b").as(s"__b$p") +:
        within.map(c => col(c).as(s"__w${p}_$c")): _*)
    val probe = side("a")
      .withColumn("__k", explode(array(col("__ba"), col("__ba") + 1)))
      .drop("__ba")
      // hash-distribute the probe side on the join keys: at scale this
      // IS the exchange a shuffle join would insert (no extra cost);
      // when the build side broadcasts (small corpora / local files in
      // one split) it is what parallelizes the per-pair verify — without
      // it the whole distance stage runs at the input's split count
      // (measured: one split at bench sf ⇒ the verify serialized on a
      // single core, 2.1 s; 0.4 s distributed). The count is PINNED
      // (explicit-n repartition is exempt from AQE coalescing): the
      // verify is compute-bound, so AQE's byte-based coalescing is the
      // wrong heuristic — it folded the 3 MB exchange back to ~3
      // partitions and re-serialized the distance work
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        within.map(c => col(s"__wa_$c")) :+ col("__k"): _*)
    val build = side("b")
    val cond = within.map(c => col(s"__wa_$c") === col(s"__wb_$c"))
      .foldLeft(col("__k") === col("__bb") &&
        (col("__la") < col("__lb") ||
          (col("__la") === col("__lb") && col("a_id") < col("b_id"))))(_ && _)
    probe.join(build, cond)
      .filter(col("__lb") - col("__la") <= maxLenDiff)
      .withColumn("__d",
        graft.functions.LevMyersExpr(col("__ta"), col("__tb"), maxDist)
          .cast("long"))
      .filter(col("__d") >= 0L) // threshold form returns -1 past maxDist
      .select(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"), col("__d").as("dist"))
  }

  /** The static side of the incremental / streaming edit-distance
    * forms: the corpus keyed by its length bucket (width
    * `maxLenDiff + 1`), one row per document — persist (or write
    * bucketed) once, probe with each incoming batch. Columns:
    * `existing_id, ex_text, ex_len, __bb` + the `within` group
    * columns unchanged. */
  def editDistBandTable(df: DataFrame, id: String, text: String,
                        within: Seq[String], maxLenDiff: Int): DataFrame = {
    require(maxLenDiff >= 0, s"need maxLenDiff >= 0, got $maxLenDiff")
    val w = maxLenDiff + 1
    df.select(
        (col(id).as("existing_id") +: col(text).as("ex_text") +:
          length(col(text)).cast("long").as("ex_len") +:
          within.map(col)): _*)
      .withColumn("__bb", expr(s"ex_len div $w"))
  }

  /** Incremental [[editDistancePairs]]: pairs BETWEEN an existing corpus
    * and an incoming batch only (existing×existing pairs were found
    * when their rows arrived) — the snapshot-growth shape, cost ∝
    * incoming batch. The incoming side explodes to buckets
    * `(k−1, k, k+1)` so every cross pair within `maxLenDiff` is matched
    * exactly once against the existing side's own bucket; verify is the
    * same native Myers DP. */
  def incrementalEditDistancePairs(existing: DataFrame, incoming: DataFrame,
                                   id: String, text: String,
                                   within: Seq[String], maxLenDiff: Int,
                                   maxDist: Int): DataFrame = {
    val probe = edProbeSide(incoming, id, text, within, maxLenDiff)
      // pinned-count distribution on the join keys — the AQE-coalescing
      // lesson from editDistancePairs applies identically
      .repartition(
        existing.sparkSession.sessionState.conf.numShufflePartitions,
        within.map(col) :+ col("__k"): _*)
    crossEditPairs(probe,
      editDistBandTable(existing, id, text, within, maxLenDiff),
      within, maxLenDiff, maxDist)
  }

  /** The incoming side of the cross-corpus edit-distance form: length,
    * bucket, and the 3-bucket explode (row-local). */
  private def edProbeSide(incoming: DataFrame, id: String,
                          text: String, within: Seq[String],
                          maxLenDiff: Int): DataFrame = {
    require(maxLenDiff >= 0, s"need maxLenDiff >= 0, got $maxLenDiff")
    val w = maxLenDiff + 1
    incoming.select(
        (col(id).as("incoming_id") +: col(text).as("__ti") +:
          length(col(text)).cast("long").as("__li") +:
          within.map(col)): _*)
      .withColumn("__bi", expr(s"__li div $w"))
      .withColumn("__k",
        explode(array(col("__bi") - 1, col("__bi"), col("__bi") + 1)))
      .drop("__bi")
  }

  /** Probe-vs-band-table join + Myers verify of the incremental
    * cross-corpus form (stateless). */
  private def crossEditPairs(probe: DataFrame, bands: DataFrame,
                             within: Seq[String], maxLenDiff: Int,
                             maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    probe.join(bands.withColumnRenamed("__bb", "__k"),
        ("__k" +: within).toSeq)
      .filter(abs(col("ex_len") - col("__li")) <= maxLenDiff)
      .withColumn("__d",
        graft.functions.LevMyersExpr(col("ex_text"), col("__ti"), maxDist)
          .cast("long"))
      .filter(col("__d") >= 0L)
      .select(col("existing_id"), col("incoming_id"), col("__d").as("dist"))
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003 —
    * the MOSS local fingerprinting algorithm): hash every word `k`-gram,
    * slide a window of `win` consecutive gram positions, select each
    * window's MINIMUM hash (rightmost on ties), emit the distinct
    * selections as `(id, fp, fp_pos)`. The winnowing guarantee: any
    * shared token run of at least `win + k − 1` tokens between two
    * documents yields at least one shared fingerprint — position-robust
    * detection with ~2/(win+1) of the grams retained.
    *
    * Engine-exact: gram hash is the repo's 60-bit md5 idiom truncated to
    * 43 bits and PACKED with the bit-complemented position
    * (`h43·2^20 + (2^20−1−pos)`), so "min hash, rightmost tie" is ONE
    * integer `min` — computed as a per-document ROWS window (partitioned
    * by id — never an unpartitioned window; positions past 2^20 grams
    * are out of fingerprint range, the standard practical cap, applied
    * identically in the oracles). Fully row-local until the per-doc
    * window; no corpus-wide shuffle. */
  def winnowingFingerprints(df: DataFrame, id: String, text: String,
                            k: Int = 3, win: Int = 4,
                            salt: String = "winnow"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(win >= 1, s"need win >= 1, got $win")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(-(win - 1), Window.currentRow)
    df.select(col(id),
        posexplode(positionalShingles(col(text), k)).as(Seq("pos", "__g")))
      .filter(col("pos") < (1L << 20))
      .withColumn("__h", Sampling.hash60(col("__g"), salt))
      // integer div/mod only — Column./ is double division
      .withColumn("__p",
        expr("(__h div 131072) * 1048576 + (1048575 - pos)"))
      .withColumn("__sel", min(col("__p")).over(w))
      .filter(col("pos") >= win - 1)
      .select(col(id), expr("__sel div 1048576").as("fp"),
        (lit(1048575L) - pmod(col("__sel"), lit(1048576L))).as("fp_pos"))
      .distinct()
  }

  /** ROW-LOCAL form of [[winnowingFingerprints]] — the same selected
    * fingerprints computed entirely within each row (gram array →
    * packed-hash array → per-window `array_min` → distinct), no window,
    * no shuffle. Interpreted HOFs, so the batch path keeps the codegen
    * window form; this form exists because it is STREAMING-SAFE (a
    * stateless projection — the ingest-time plagiarism gate runs it per
    * arriving document). DedupSpec pins bit-equality of the two forms.
    * Output: `(id, fp, fp_pos)` — identical to the window form. */
  def winnowingFingerprintsLocal(df: DataFrame, id: String, text: String,
                                 k: Int = 3, win: Int = 4,
                                 salt: String = "winnow"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(win >= 1, s"need win >= 1, got $win")
    // identical arithmetic to the window form: 43-bit hash packed with
    // the bit-complemented position; 2^17 / 2^20 factors as shifts
    // (hash60 is non-negative) — integer div/mul, never Column./
    val grams = slice(positionalShingles(col(text), k), 1, 1 << 20)
    val packed = transform(grams, (g, i) =>
      shiftleft(shiftright(Sampling.hash60(g, salt), 17), 20) +
        (lit(1048575) - i))
    df.select(col(id), packed.as("__pk"))
      .select(col(id),
        explode(when(size(col("__pk")) < win,
            array().cast("array<bigint>"))
          .otherwise(array_distinct(transform(
            sequence(lit(win), size(col("__pk"))),
            p => array_min(slice(col("__pk"), p - win + 1, lit(win)))))))
          .as("__sel"))
      .select(col(id), shiftright(col("__sel"), 20).as("fp"),
        (lit(1048575L) - pmod(col("__sel"), lit(1048576L))).as("fp_pos"))
  }

  /** Match an incoming batch's winnowing fingerprints against an
    * ALREADY-BUILT fingerprint table (`(id, fp)` rows from
    * [[winnowingFingerprints]] — persisted, the sunk-cost index): pairs
    * `(existing_id, incoming_id, shared)` with at least `minShared`
    * shared fingerprints. The incoming side is fingerprinted ROW-LOCALLY
    * ([[winnowingFingerprintsLocal]]) so the only shuffle is the
    * fingerprint equi-join + the pair count — cost ∝ batch, and the
    * same call is streaming-safe (per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]). */
  def winnowMatchAgainst(incoming: DataFrame, existingFp: DataFrame,
                         id: String, text: String, exId: String = "doc_id",
                         k: Int = 3, win: Int = 4, minShared: Int = 2,
                         salt: String = "winnow"): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    winnowingFingerprintsLocal(incoming, id, text, k, win, salt)
      .select(col(id).as("incoming_id"), col("fp")).distinct()
      .join(existingFp.select(col(exId).as("existing_id"), col("fp"))
        .distinct(), Seq("fp"))
      .groupBy(col("existing_id"), col("incoming_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** [[winnowMatchAgainst]] with FORENSICS: for each matching pair, the
    * positional EXTENT of the shared material on both sides (min/max
    * gram position of the matched fingerprints) beside the shared
    * count — the "which part of the incoming doc copies which part of
    * the corpus doc" report a plagiarism/licensing reviewer needs, not
    * just the verdict. Requires the existing fingerprint table to keep
    * `fp_pos` (as [[winnowingFingerprints]] emits it). Each side is
    * pre-aggregated to one `(id, fp, min_pos, max_pos)` row BEFORE the
    * join — a fingerprint selected at P positions on one side and Q on
    * the other joins 1×1, not P×Q (boilerplate-heavy docs repeat
    * selected grams, exactly where the fan-out would bite), and the
    * extent/count arithmetic is unchanged (min of per-fp mins = global
    * min; one row per fp ⇒ `count(*)` = distinct fps). */
  def winnowMatchSpans(incoming: DataFrame, existingFp: DataFrame,
                       id: String, text: String, exId: String = "doc_id",
                       k: Int = 3, win: Int = 4, minShared: Int = 2,
                       salt: String = "winnow"): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    val inc = winnowingFingerprintsLocal(incoming, id, text, k, win, salt)
      .groupBy(col(id).as("incoming_id"), col("fp"))
      .agg(min(col("fp_pos")).as("__ipl"), max(col("fp_pos")).as("__iph"))
    val ex = existingFp
      .groupBy(col(exId).as("existing_id"), col("fp"))
      .agg(min(col("fp_pos")).as("__epl"), max(col("fp_pos")).as("__eph"))
    inc.join(ex, Seq("fp"))
      .groupBy(col("existing_id"), col("incoming_id"))
      .agg(count(lit(1)).as("shared"),
        min(col("__epl")).as("ex_pos_min"), max(col("__eph")).as("ex_pos_max"),
        min(col("__ipl")).as("in_pos_min"), max(col("__iph")).as("in_pos_max"))
      .filter(col("shared") >= minShared)
  }

  /** Persist the winnowing fingerprint table as a MAINTAINED index
    * (r14 — the one persisted-index family that still lacked the
    * delete/replace lifecycle; postings, positional, fielded, IVF-SQ8,
    * the maxsim pair and SymSpell all have it): `(doc_id, fp, fp_pos,
    * gen)` bucketed by `fp` — the match join's key, so serving probes
    * hash straight into buckets — under the standard
    * [[graft.io.IndexMaintenance]] generational-tombstone contract.
    * The fingerprint corpus of a licensing/plagiarism gate is exactly
    * the kind of index that lives for years while documents get
    * retracted (delete) or re-ingested after OCR fixes (replace). */
  def saveWinnowIndex(df: DataFrame, id: String, text: String,
                      table: String, buckets: Int, k: Int = 3,
                      win: Int = 4, salt: String = "winnow"): Unit =
    graft.io.Layout.writeBucketed(
      winnowingFingerprints(df, id, text, k, win, salt)
        .withColumnRenamed(id, "doc_id")
        .withColumn("gen", lit(0L)),
      table, "fp", buckets)

  /** Append NEW docs' fingerprints to a maintained [[saveWinnowIndex]]
    * — O(batch), gen-stamped to survive existing tombstones. Updates
    * to existing docs must route through [[replaceInWinnowIndex]]. */
  def appendToWinnowIndex(df: DataFrame, id: String, text: String,
                          table: String, buckets: Int, k: Int = 3,
                          win: Int = 4, salt: String = "winnow"): Unit = {
    val gen = graft.io.IndexMaintenance.currentSeq(df.sparkSession, table)
    graft.io.Layout.appendBucketed(
      winnowingFingerprints(df, id, text, k, win, salt)
        .withColumnRenamed(id, "doc_id")
        .withColumn("gen", lit(gen)),
      table, "fp", buckets)
  }

  /** Tombstone docs out of a maintained winnowing index — O(batch). */
  def deleteFromWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, ids: DataFrame,
                            idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "doc_id",
      ids.select(col(idCol).as("doc_id")))

  /** Replace docs' fingerprints: tombstone then append — the old rows
    * die behind the new sequence. ≡ rebuild (spec-pinned). */
  def replaceInWinnowIndex(df: DataFrame, id: String, text: String,
                           table: String, buckets: Int, k: Int = 3,
                           win: Int = 4, salt: String = "winnow"): Unit = {
    deleteFromWinnowIndex(df.sparkSession, table,
      df.select(col(id)).distinct(), id)
    appendToWinnowIndex(df, id, text, table, buckets, k, win, salt)
  }

  /** The serving view of a maintained winnowing index (live rows). */
  def loadWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String): DataFrame =
    graft.io.IndexMaintenance.load(spark, table, "doc_id")

  /** [[winnowMatchSpans]] against the LIVE view of a maintained
    * [[saveWinnowIndex]] — deleted/replaced corpus docs neither match
    * nor report stale spans. The from-index serving form beside the
    * caller-managed-DataFrame [[winnowMatchAgainst]]. */
  def winnowMatchFromIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, incoming: DataFrame,
                           id: String, text: String, k: Int = 3,
                           win: Int = 4, minShared: Int = 2,
                           salt: String = "winnow"): DataFrame =
    winnowMatchSpans(incoming, loadWinnowIndex(spark, table), id, text,
      "doc_id", k, win, minShared, salt)

  /** MOSS-style overlap detection on [[winnowingFingerprints]]: pairs of
    * documents sharing at least `minShared` distinct fingerprints, with
    * the shared count. Candidate generation is the fingerprint
    * equi-join — never all-pairs; `maxBucket` drops fingerprints held by
    * more than that many documents (boilerplate/viral grams — the same
    * skew cap as the LSH band join, and at `win+k−1`-token resolution a
    * fingerprint shared by hundreds of documents is boilerplate by
    * definition, not evidence). */
  def winnowingPairs(df: DataFrame, id: String, text: String,
                     k: Int = 3, win: Int = 4, minShared: Int = 2,
                     maxBucket: Int = 0,
                     salt: String = "winnow"): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    val fp = winnowingFingerprints(df, id, text, k, win, salt)
      .select(col(id), col("fp")).distinct()
    val capped =
      if (maxBucket <= 0) fp
      else fp.join(fp.groupBy("fp").agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucket).select("fp"), "fp")
    capped.select(col(id).as("a_id"), col("fp"))
      .join(capped.select(col(id).as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Agreement matrix between near-dup DETECTORS: given named pair
    * relations (edit-distance, winnowing, SimHash, LSH — anything
    * emitting ordered id pairs), the count of pairs in each membership
    * combination — the eval that says which detector families fire
    * where, and what each one uniquely contributes. Full outer joins on
    * the (already candidate-bounded) pair relations only — never the
    * corpus; output is 2^|sets| − 1 rows at most. */
  def pairAgreement(sets: Seq[(String, DataFrame)],
                    aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame = {
    require(sets.size >= 2, s"need >= 2 pair sets, got ${sets.size}")
    require(sets.map(_._1).distinct.size == sets.size, "duplicate set names")
    val marked = sets.map { case (nm, df) =>
      df.select(col(aCol).as("id_a"), col(bCol).as("id_b")).distinct()
        .withColumn(s"in_$nm", lit(true))
    }
    marked.reduce((x, y) => x.join(y, Seq("id_a", "id_b"), "full"))
      .groupBy(sets.map { case (nm, _) =>
        coalesce(col(s"in_$nm"), lit(false)).as(s"in_$nm") }: _*)
      .agg(count(lit(1)).as("n_pairs"))
  }

  def lshCatchProbability(s: Double, bands: Int, rows: Int): Double = {
    require(s >= 0.0 && s <= 1.0, s"similarity out of [0,1]: $s")
    require(bands >= 1 && rows >= 1, s"bad bands=$bands rows=$rows")
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)
  }

  /** The S-curve's approximate threshold `(1/bands)^(1/rows)` — pairs
    * above it are mostly caught, below it mostly skipped. */
  def lshThreshold(bands: Int, rows: Int): Double = {
    require(bands >= 1 && rows >= 1, s"bad bands=$bands rows=$rows")
    math.pow(1.0 / bands, 1.0 / rows)
  }

  /** Deterministic integer PageRank over ANY undirected pair graph
    * (near-dup pairs, mutual-kNN pairs, shared-span pairs — the same
    * fingerprint-agnostic posture as [[dedupClusters]]): the
    * graph-centrality weight a curation pass uses to pick PROTOTYPICAL
    * members (coreset selection — high rank = densely endorsed by its
    * neighborhood) or to flag spam hubs (a node whose rank dwarfs its
    * family's). Classic damped iteration, kept engine-exact on the
    * int64 grid: `r₀ = 2²⁰`, `r_{k+1}(v) = (3·2²⁰ + 17·Σ_{u~v}
    * floor(r_k(u) div deg(u))) div 20` — α = 17/20 as an exact
    * rational, every step a floor division, so `iters` rounds produce
    * the same integers in any engine (no float accumulation to
    * disagree about).
    *
    * Shape: the iteration runs on the PAIR GRAPH only (the
    * dedupClusters discipline — never the corpus): one degree groupBy,
    * then per round one edge⋈rank equi-join + one dst groupBy, lineage
    * truncated by the persisted edge table. Isolated nodes (no pairs)
    * are absent — their rank is the base by definition. Output:
    * `(node, degree, rank_q)` with rank_q/2²⁰ the centrality. */
  def pairGraphRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"bad iters: $iters")
    // persist the INPUT pair table, not just edgesDeg below: edges reads
    // it twice (the column-swapped union branches) and deg scans edges
    // again, so an unpersisted pair plan — often an expensive generator
    // like q166's mutual-kNN chain — would evaluate up to 4× while
    // edgesDeg materializes. The pair table is tiny and its recompute
    // crosses shuffles + aggregates: the persist-pays rule's easy case.
    val p = Caches.track(pairs.persist())
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val edgesDeg = Caches.track(edges.join(deg, Seq("src")).persist())
    var r = edgesDeg.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1048576L))
    for (_ <- 1 to iters) {
      r = edgesDeg.join(r, col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          expr("(3 * 1048576 + 17 * s) div 20").as("r"))
    }
    r.join(deg.select(col("src").as("node"), col("d")), Seq("node"))
      .select(col("node"), col("d").cast("long").as("degree"),
        col("r").as("rank_q"))
  }
  /** Corpus-wide paragraph document-frequency table — the trained/sunk
    * artifact of paragraph-level boilerplate removal ([[
    * dropFrequentParagraphs]] splits in-query; a streaming gate probes
    * a FROZEN table built here, the exciseNewAgainst posture). One
    * row-local split + ONE (gh) partial-agg over DISTINCT (doc, gh) —
    * a paragraph repeated inside one document counts once (document
    * frequency, the CCNet/Dolma convention). `(gh, df)`, gh = the
    * repo-wide 60-bit md5 prefix of the exact paragraph string. */
  def paragraphDfTable(df: DataFrame, id: String, text: String,
                       sep: String = "\n"): DataFrame =
    df.select(col(id).as("doc"),
        explode(split(col(text), java.util.regex.Pattern.quote(sep)))
          .as("para"))
      .filter(col("para") =!= "")
      .select(col("doc"), graft.functions.Md5Hash.prefix60(col("para"))
        .as("gh"))
      .distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))

  /** Paragraph-level boilerplate removal (the CCNet/Dolma paragraph
    * dedup stage): a paragraph appearing in MORE than `maxDf`
    * documents is boilerplate (cookie banners, nav bars, newsletter
    * pitches — the within-page repetition the document-level dedup
    * family cannot see), and every document is REWRITTEN with its
    * over-frequent paragraphs removed — in ALL holders (unlike the
    * Lee-et-al span excision's keep-one rule: corpus-frequent
    * boilerplate adds no training value in any copy; set `maxDf` = 1
    * + nothing for strict para-dedup semantics). Empty paragraphs
    * (consecutive separators) drop as a side effect.
    *
    * Scale shape: paragraphs explode row-locally; document frequency
    * is one (gh) partial-agg over distinct (doc, gh) ([[
    * paragraphDfTable]]); the verdict joins back by gh (equi-join,
    * paragraph-vocabulary-bounded build side is NOT assumed — it
    * shuffles, never broadcasts blind) and each document reassembles
    * from its own kept rows (per-doc sort of a per-doc-bounded list).
    * Output: `(id, text_out, n_paras, n_dropped)` — `text_out` empty
    * when everything was boilerplate. */
  def dropFrequentParagraphs(df: DataFrame, id: String, text: String,
                             maxDf: Long,
                             sep: String = "\n"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val paras = paraRows(df, id, text, sep)
    val dfTab = paras.select(col("doc"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
    reassemble(paras.join(dfTab, Seq("gh")), id, maxDf, sep)
  }

  /** Paragraph boilerplate removal against a FROZEN corpus table
    * ([[paragraphDfTable]]) — the ingest-gate form (run per micro-batch
    * through [[graft.streaming.StatefulOps.eachBatch]]): an
    * arriving document loses the paragraphs the REFERENCE corpus
    * already holds in more than `maxDf` documents; a paragraph the
    * reference never saw has frequency 0 and is kept. Stream-static
    * by nature — the df table is the sunk artifact (long-lived
    * consumers should persist it); cost is proportional to the batch. */
  def dropFrequentParagraphsAgainst(incoming: DataFrame, id: String,
                                    text: String, paraDf: DataFrame,
                                    maxDf: Long,
                                    sep: String = "\n"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val joined = paraRows(incoming, id, text, sep)
      .join(paraDf.select(col("gh"), col("df")), Seq("gh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
    reassemble(joined, id, maxDf, sep)
  }

  /** Shared split stage: one row per non-empty paragraph occurrence —
    * `(doc, pos, para, gh)`. */
  private def paraRows(df: DataFrame, id: String, text: String,
                       sep: String): DataFrame =
    df.select(col(id).as("doc"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .filter(col("para") =!= "")
      .withColumn("gh", graft.functions.Md5Hash.prefix60(col("para")))

  /** Shared reassembly: per-doc ordered rebuild of the under-cap
    * paragraphs (collect_list skips the NULLed dropped rows). */
  private def reassemble(joined: DataFrame, id: String, maxDf: Long,
                         sep: String): DataFrame =
    joined.groupBy(col("doc").as(id))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
            when(col("df") <= maxDf, struct(col("pos"), col("para"))))),
          e => e.getField("para")), sep).as("text_out"))
      .select(col(id), col("text_out"), col("n_paras"), col("n_dropped"))

  /** Per-snapshot exact-duplication report — the "dedup within each
    * crawl dump or globally across dumps?" data-strategy question
    * (FineWeb measured the two regimes diverging; this panel gives the
    * numbers for THIS corpus): the global [[exactDedup]] winner rule
    * (min id per content hash), and each losing copy classified by
    * WHERE its winner lives — `dup_within` (winner in the same
    * snapshot: per-dump dedup would also catch it) vs `dup_cross`
    * (winner in another snapshot: ONLY global dedup catches it). A
    * high cross share says snapshots recrawl each other and global
    * dedup pays; a low one says per-dump dedup is nearly free of the
    * global shuffle.
    *
    * Scale shape: one hash groupBy (min-struct winner, map-side
    * combinable), one equi-join back on the hash, one snapshot-keyed
    * rollup. Output per snapshot: `(snapshot, n_docs, n_winner,
    * n_dup_within, n_dup_cross)` — rows reconcile:
    * n_docs = n_winner + n_dup_within + n_dup_cross. */
  def dedupRateBySnapshot(df: DataFrame, id: String, text: String,
                          snapshot: String): DataFrame = {
    val h = df.select(col(id).as("doc"), col(snapshot).as("snap"),
      md5(col(text)).as("h"))
    val win = h.groupBy(col("h"))
      .agg(min(struct(col("doc"), col("snap"))).as("w"))
      .select(col("h"), col("w.doc").as("w_doc"),
        col("w.snap").as("w_snap"))
    h.join(win, Seq("h"))
      .groupBy(col("snap").as(snapshot))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc") === col("w_doc"), 1L).otherwise(0L))
          .as("n_winner"),
        sum(when(col("doc") =!= col("w_doc") &&
          col("snap") === col("w_snap"), 1L).otherwise(0L))
          .as("n_dup_within"),
        sum(when(col("doc") =!= col("w_doc") &&
          col("snap") =!= col("w_snap"), 1L).otherwise(0L))
          .as("n_dup_cross"))
  }

}
