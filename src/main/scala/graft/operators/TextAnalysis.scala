package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.MaterializeOps

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column expressions (codegen'd, no UDFs) so a 100 TB corpus
  * pass is a single scan with whole-stage codegen — and every formula is
  * deterministic + ANSI-SQL-expressible so the DuckDB oracle can replicate
  * it bit-for-bit.
  */
object TextAnalysis {

  /** Raw whitespace token count (plain space split — no normalization,
    * no blank guard; NULL text → NULL). [[Packing.tokenCount]] is the
    * guarded, normalized twin new layout code should prefer. */
  def tokenCount(text: Column): Column =
    size(split(text, " "))

  /** Normalized whitespace tokens (lower + trim + collapse runs), the ONE
    * definition of the token stream — mirrored by the oracle's
    * `string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')`
    * and by NGramsGenerator's internal walk. Callers explode it. */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** BPE-ish token count: letter runs, digit runs, or single non-space
    * symbols — a cheap proxy for subword tokenizer load. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality score in [0,100]: rewards mid-length docs, penalizes
    * non-alphabetic noise and stopword-free (unnatural) text.
    * Integer/decimal arithmetic only → exact across engines.
    */
  def qualityScore(text: Column, nChars: Column): Column = {
    val toks = tokenCount(text)
    // (?i): quality/language gates must see "The" and "THE" — every other
    // text operator lowercases via tokens(); these match raw text, so the
    // flag carries the normalization (ALL-CAPS English scored 0 stopwords
    // and failed the gate)
    val stop = size(regexp_extract_all(text, lit("(?i)\\b(the|a|of|and|or|in|to)\\b"), lit(0)))
    val sym  = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val lenScore  = when(nChars.between(200, 2000), lit(40))
      .when(nChars.between(50, 5000), lit(20)).otherwise(lit(0))
    val stopScore = least(stop * lit(5), lit(30))
    val symPenalty = least(sym * lit(2), lit(30))
    lenScore + stopScore + lit(30) - symPenalty
  }

  /** Language-ID heuristic: vote on high-frequency marker words. This is
    * the classic n-gram/stopword profile approach cut down to something an
    * oracle can replicate exactly; swap the marker table for real profiles
    * in production. Returns a language code or 'und'.
    */
  def langIdHeuristic(text: Column): Column = {
    def hits(words: Seq[String]): Column =
      size(regexp_extract_all(text,
        lit("(?i)\\b(" + words.mkString("|") + ")\\b"), lit(0)))
    val en = hits(Seq("the", "and", "of", "to", "in"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    val es = hits(Seq("el", "los", "las", "es", "y"))
    val best = greatest(en, de, fr, es)
    when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * Stable across engines (md5 hex is canonical); used for exact dedup
    * and as the shingle hash base for MinHash.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Unicode-robust fingerprint: NFC-compose BEFORE the usual normalize —
    * composed ("é" = U+00E9) and decomposed ("e"+U+0301) encodings of the
    * same text collapse to one hash, which plain [[fingerprint]] silently
    * splits. Mirror: `md5(regexp_replace(lower(trim(nfc_normalize(text))), …))`. */
  def fingerprintNfc(text: Column): Column =
    md5(regexp_replace(lower(trim(graft.functions.NfcNormalize.nfc(text))), "\\s+", " "))

  /** Word n-gram shingles of the normalized text (for Jaccard/MinHash). */
  def shingles(text: Column, n: Int): Column = {
    val words = tokens(text) // the ONE tokenizer — never re-derive it
    // slide an index window: shingle i = words[i..i+n-1], for i in 0..len-n
    filter(
      transform(sequence(lit(0), greatest(size(words) - lit(n), lit(0))),
        i => when(i <= size(words) - lit(n),
          concat_ws(" ", (0 until n).map(j => element_at(words, i + lit(j + 1))): _*))),
      x => x.isNotNull)
  }

  /** Sliding-window document chunking — the pre-tokenization step of a
    * training-data pipeline (fixed-size character chunks with overlap, so
    * no content is lost at chunk boundaries). Map-only: one explode of a
    * small integer sequence per doc, no shuffle, no UDF; chunk count is
    * integer-exact (`ceil(max(len-size,0)/stride)+1`), so the DuckDB
    * oracle enumerates identical chunks. Returns
    * (doc_id, chunk_ix, chunk_len, chunk_md5).
    */
  def chunk(docs: DataFrame, size: Int = 256, stride: Int = 224,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size (overlap = size - stride)")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .withColumn("_nc",
        floor((greatest(length(col("_text")) - size, lit(0)) + (stride - 1)) / stride.toDouble)
          .cast("long") + 1)
      .withColumn("chunk_ix", explode(sequence(lit(0L), col("_nc") - 1)))
      .select(col("doc_id"), col("chunk_ix"),
        length(expr(s"substring(_text, chunk_ix * $stride + 1, $size)"))
          .cast("long").as("chunk_len"),
        md5(expr(s"substring(_text, chunk_ix * $stride + 1, $size)")).as("chunk_md5"))
  }

  /** Term-blocklist gate — the C4-style wordlist filter (C4 dropped any
    * page containing a listed word; later pipelines keep the verdict as
    * an audit column for mixture decisions). Matching is SET-MEMBERSHIP
    * over the normalized [[tokens]] stream, deliberately NOT a regex
    * alternation over the list: leftmost-first (Java) vs
    * leftmost-longest-eligible scanning diverges between engines exactly
    * on alternations with shared prefixes, and a 10k-term alternation
    * stops being codegen-friendly. The lowercased list compiles into one
    * INSET probe inside a codegen'd projection; a list too large for
    * plan literals moves to a broadcast set/Bloom probe
    * ([[graft.functions.BloomFilter]]) with the same per-token shape.
    * Single-token terms only — multi-word phrases go through the n-gram
    * machinery, not this gate. NULL-text docs are excluded (no tokens to
    * judge); returns (doc_id, n_tokens, n_blocked, n_blocked_distinct,
    * blocked). One map pass, no shuffle. */
  def blocklistGate(docs: DataFrame, terms: Seq[String],
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val termsLc = terms.map(_.toLowerCase).distinct
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      // stage the filtered array once (the urlProfile staging lesson):
      // ArrayFilter is an interpreted HOF, so inlining it into both count
      // columns would run the per-token probe twice per document
      .select(col("doc_id"), size(col("_t")).cast("long").as("n_tokens"),
        filter(col("_t"), t => t.isin(termsLc: _*)).as("_blocked"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_blocked")).cast("long").as("n_blocked"),
        size(array_distinct(col("_blocked")))
          .cast("long").as("n_blocked_distinct"))
      .withColumn("blocked", (col("n_blocked") > 0).cast("long"))
  }

  /** Gopher-style quality gate (Rae et al. 2021's repetition/format rules,
    * cut down to the deterministic core): word-count bounds, mean word
    * length bounds, symbol-to-word ratio cap, minimum stopword hits. One
    * scan, pure Column expressions. Every comparison is INTEGER
    * cross-multiplied (`chars ≥ 2·words` instead of `chars/words ≥ 2.0`),
    * so the verdicts are bit-exact in any engine — no float thresholds.
    * Returns per-doc rule verdicts plus the combined `pass` so a pipeline
    * can both filter and audit why documents were dropped. */
  def gopherFilter(docs: DataFrame,
                   minWords: Int = 30, maxWords: Int = 10000,
                   minMeanLen: Int = 2, maxMeanLen: Int = 10,
                   maxSymbolsPer10Words: Int = 1, minStopwords: Int = 2): DataFrame = {
    // NORMALIZED word count (Packing.tokenCount): the raw single-space
    // split counts "w1 w2\nw3" as two words and blank docs as one — a
    // quality gate misjudging newline-wrapped text defeats its purpose
    val words = Packing.tokenCount(col("text"))
    val alphaChars = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val sym = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    val stop = size(regexp_extract_all(col("text"),
      lit("(?i)\\b(the|a|of|and|or|in|to)\\b"), lit(0))).cast("long")
    docs.select(
      col("doc_id"),
      words.as("n_words"),
      alphaChars.as("n_chars_nospace"),
      sym.as("n_symbols"),
      stop.as("n_stopwords"),
      words.between(minWords, maxWords).as("ok_words"),
      (alphaChars >= words * minMeanLen && alphaChars <= words * maxMeanLen)
        .as("ok_mean_len"),
      (sym * 10 <= words * maxSymbolsPer10Words).as("ok_symbols"),
      (stop >= minStopwords).as("ok_stopwords"))
      .withColumn("pass",
        col("ok_words") && col("ok_mean_len") && col("ok_symbols") && col("ok_stopwords"))
  }

  /** Sequence packing, concat-and-chunk style: documents are laid out
    * back-to-back in a deterministic order and cut into fixed-capacity
    * token windows — the layout step before writing pretraining examples
    * (each doc gets the pack it STARTS in and its token offset there;
    * long docs spill into the following packs, which is exactly how
    * concat-then-chunk tokenization treats them).
    *
    * Scale: packing is per shard (`shardCol`), so the cumulative sum is a
    * window partitioned by shard — one shuffle, embarrassingly parallel
    * across shards, no global ordering. (A single global pack sequence
    * would serialize the corpus through one task; per-shard packing wastes
    * at most one partial pack per shard, negligible at corpus scale.)
    * Integer arithmetic only (`div`/`mod` on token cumsums), so the
    * assignment is engine-exact. NOT the same operator as
    * [[Packing.packSequences]] (global concatenate-then-chunk layout) —
    * this is the per-shard pack_id/pack_offset assignment q69 covers. */
  def packSequences(docs: DataFrame, capacity: Long = 2048,
                    shardCol: String = "source"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id")) // post-rename frame below
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col(shardCol).as("shard"),
        Packing.tokenCount(col("text")).as("n_tokens"))
      .withColumn("_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"_before div ${capacity}L").as("pack_id"),
        (col("_before") % capacity).as("pack_offset"))
  }

  /** Repetition detection (the Gopher duplicate-n-gram rule): per document,
    * the total n-gram occurrence count, the most frequent single n-gram's
    * count, and a `repetitive` verdict when the top n-gram exceeds 20% of
    * all occurrences — integer cross-multiplied, so engine-exact. Uses the
    * NON-distinct n-gram stream (occurrences, not the shingle set): two
    * aggregates, both keyed by doc_id (no cross-doc shuffle width).
    */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = docs.select(col("doc_id"),
      graft.functions.NGramsGenerator.ngrams(col("text"), n))
    grams.groupBy(col("doc_id"), col("shingle")).agg(count(lit(1)).as("_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("n_grams"), max(col("_c")).as("max_gram"))
      .withColumn("repetitive", col("max_gram") * 5 > col("n_grams"))
  }

  /** PII patterns, written in the common subset of Java regex and RE2 so
    * redaction and the DuckDB oracle match byte-for-byte: no alternation
    * inside a quantified group, no backreferences, no lookaround (Java is
    * leftmost-FIRST, RE2 leftmost-LONGEST — pure greedy quantifiers over
    * disjoint character classes behave identically in both). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,3} \\d{3} \\d{4}"

  /** PII redaction — the scrubbing pass every training corpus runs before
    * anything else (emails, IPv4 addresses, international-format phone
    * numbers → typed placeholders). Order matters and is fixed: emails
    * first (their local parts can contain dotted digit runs an IP pattern
    * would half-match), then IPs, then phones. Pure `regexp_replace`
    * chain: one scan, codegen'd, no shuffle at any corpus size. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII audit: match counts per category (on the ORIGINAL
    * text) plus the md5 fingerprint of the redacted text — what a
    * compliance pass stores so re-runs can prove the corpus is clean
    * without retaining the raw strings. */
  def piiProfile(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      md5(redactPii(col(textCol))).as("redacted_md5"))

  /** BM25 relevance scores for a fixed query-term set (Robertson/Okapi,
    * k1=1.2, b=0.75) — the retrieval-quality scorer a data pipeline uses
    * to mine domain-relevant documents from a crawl.
    *
    * Scale shape: tokens are filtered to the query terms BEFORE the tf
    * aggregate (the per-doc stream shrinks from |doc| to |matches|), df
    * and the corpus stats are tiny broadcast frames, so the whole scorer
    * is one shuffle on (doc, term).
    *
    * Engine parity: tf/df/dl/N are exact longs; per-term scores are one
    * fixed-shape double expression (idf via ln, the constants spelled as
    * decimal literals that parse identically everywhere) rounded to 6
    * places — and the cross-term SUM runs over DECIMAL(18,6) of those
    * rounded scores, so accumulation order cannot change the total. */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"), size(col("_toks")).cast("long").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    // tf is tiny (≤ docs × |queryTerms| rows): materialize it so the df
    // aggregate and the score join read it back instead of re-running the
    // tokenize + explode + aggregate over the corpus per plan branch
    val tf = base.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .materialized
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // idf = ln(1 + (N - df + 0.5)/(df + 0.5)); norm = dl·N/Σdl (exact long
    // product, ONE double division). Same expression shape as the oracle.
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val norm = (col("dl") * col("n_docs")).cast("double") / col("total_dl").cast("double")
    val termScore = round(
      idf * (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(0.3) + lit(0.9) * norm), 6)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), termScore.cast("decimal(18,6)").as("_s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("_s")).cast("double").as("score"))
  }

  /** Hashing-trick featurizer (the fastText/Vowpal-Wabbit input encoding):
    * each token hashes to a fixed `dims`-bucket feature index and per-doc
    * bucket counts form the sparse feature vector — no vocabulary pass, no
    * id table, fixed feature space however large the corpus grows.
    * Output is sparse COO rows (doc_id, feature_ix, cnt) — the shape a
    * trainer or a [[dsirWeights]]-style model consumes.
    *
    * The index is the same md5 bucket arithmetic as dsirWeights (60-bit
    * hex prefix mod dims — engine-portable, collision-deterministic).
    * One map-only tokenize+hash pass; the only shuffle is the
    * (doc, bucket) count, bounded by corpus tokens with per-doc fan-out
    * capped at `dims`. Docs with NULL text contribute no rows. */
  def featureHash(docs: DataFrame, dims: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dims >= 2 && dims <= (1 << 24), "dims must be in [2, 2^24]")
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .select(col("doc_id"),
        (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long") % dims)
          .as("feature_ix"))
      .groupBy(col("doc_id"), col("feature_ix"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Unigram language-model quality score (the CCNet idea cut to its
    * deterministic core): train a unigram LM on the corpus itself — one
    * inverted-index count aggregate — and score each document by its mean
    * token log-probability. Documents full of corpus-typical words score
    * high; gibberish, rare-token spam, and wrong-language text score low.
    *
    * Shape: (doc, term, tf) + broadcast (term, cnt) — the TF-IDF topology,
    * one shuffle on the term and one on the doc. Engine parity: counts are
    * exact longs, `ln(cnt/T)` is one fixed-shape double expression rounded
    * to 6, the per-doc total is `Σ tf·round(ln p, 6)` in DECIMAL (exact
    * integer × decimal products, order-free sum), and only the final
    * per-token mean is a double division. */
  def unigramLogProb(docs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"), size(col("_toks")).cast("long").as("dl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .materialized // consumed by the LM aggregate AND the score join
    val lm = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    val logp = round(log(col("cnt").cast("double") / col("total").cast("double")), 6)
    tf.join(broadcast(lm), "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("dl"),
        (col("tf").cast("decimal(18,6)") * logp.cast("decimal(18,6)")).as("_lp"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("_lp")).as("_sum"))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        (col("_sum").cast("double") / col("dl").cast("double")).as("avg_logprob"))
  }

  /** Length-bucketed batching: group documents into size-`bucketWidth`
    * token-length buckets, then cut each bucket into `batchSize`-doc
    * batches in content-hash order — the inference/serving layout that
    * minimizes padding waste (a batch pads every member to its longest
    * sequence; batching within a length bucket bounds that waste to
    * `bucketWidth` tokens per doc). Returns (doc, n_tokens, bucket,
    * batch_ix, padded_len): `padded_len` = the batch's max length, the
    * number every member is padded to.
    *
    * Engine parity: bucket = `n_tokens div bucketWidth` (integer),
    * batch_ix = `(row_number − 1) div batchSize` over (hash, key) order —
    * all exact. Scale: one map-only projection + ONE window partitioned
    * by bucket (each length class ranks independently), then a tiny
    * (bucket, batch) max aggregate joined back by the window's own key —
    * no global sort. */
  def lengthBucketedBatches(docs: DataFrame, bucketWidth: Int, batchSize: Int,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0, "need positive bucketWidth/batchSize")
    // window references the POST-rename column: ordering on col(idCol)
    // would throw UNRESOLVED_COLUMN for any idCol other than "doc_id"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(Sampling.hashBucket(col("doc_id")), col("doc_id"))
    val ranked = docs.select(col(idCol).as("doc_id"),
        Packing.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("batch_ix", expr(s"(_rn - 1) div $batchSize"))
      .drop("_rn")
      .materialized // consumed by the rows AND the batch-max sides
    val pads = ranked.groupBy(col("bucket"), col("batch_ix"))
      .agg(max(col("n_tokens")).as("padded_len"))
    ranked.join(pads, Seq("bucket", "batch_ix"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        col("batch_ix"), col("padded_len"))
  }

  /** Bigram language-model fluency score — the next notch of context
    * sensitivity above [[unigramLogProb]]: score each document by the mean
    * conditional log-probability of its token *transitions*,
    * `mean over i of ln P(t_i | t_{i-1})` with add-one smoothing over the
    * corpus unigram vocabulary V:
    * `P(b | a) = (c(a b) + 1) / (c(a ·) + |V|)`. A doc reusing corpus-
    * typical word ORDER scores high; shuffled or spammy token salads score
    * low even when every individual token is common — exactly what the
    * unigram score cannot see.
    *
    * Shape: bigrams come from the same window-lead tokenize the shingle
    * path uses (map-only); the LM is two count aggregates (bigram counts
    * keyed by the pair, prefix counts keyed by the first token — both
    * vocabulary-sized, broadcast back); scoring is one join + one per-doc
    * sum. Engine parity: counts and |V| are exact longs, each transition
    * contributes `tf · round(ln p, 6)` summed in DECIMAL, one final double
    * division by the doc's transition count.
    */
  def bigramLogProb(docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
    // (doc, a, b) transition frequencies; posexplode + lead-by-index keeps
    // this one map-only Generate (no self-join on position)
    val grams = base
      .select(col("doc_id"), col("_toks"),
        posexplode(col("_toks")).as(Seq("_i", "a")))
      .filter(col("_i") < size(col("_toks")) - 1)
      .select(col("doc_id"), col("a"),
        element_at(col("_toks"), col("_i") + 2).as("b"))
    val tf = grams.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .materialized // consumed by the LM aggregates AND the score join
    val big = tf.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("cab"))
    val pre = big.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    // |V|: distinct tokens anywhere (last token of a doc is a bigram 'b')
    val vocab = tf.select(col("a").as("t"))
      .union(tf.select(col("b").as("t")))
      .agg(countDistinct(col("t")).as("v"))
    val logp = round(log((col("cab").cast("double") + lit(1.0)) /
      (col("ca").cast("double") + col("v").cast("double"))), 6)
    tf.join(broadcast(big), Seq("a", "b"))
      .join(broadcast(pre), Seq("a"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        col("tf"),
        (col("tf").cast("decimal(18,6)") * logp.cast("decimal(18,6)")).as("_lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_transitions"), sum(col("_lp")).as("_sum"))
      .select(col("doc_id"), col("n_transitions"),
        (col("_sum").cast("double") / col("n_transitions").cast("double"))
          .as("avg_logprob"))
  }

  /** Multinomial Naive Bayes document classifier over a categorical label
    * column — the deterministic core of the fastText-style domain/quality
    * classifiers big pipelines gate on (CCNet's lang buckets, DCLM's
    * quality model): train add-one-smoothed per-label token likelihoods on
    * the corpus itself and label every document with its argmax class.
    * Emits (doc_id, actual, predicted, score, correct) — the self-
    * classification audit: `correct` measures how separable the labels
    * are in token space, and off-diagonal rows are the mislabel report.
    *
    * Engine parity: the score decomposes as
    * `prior + Σ_t tf·ln P(t|s)` = `prior − dl·ln(c_s+|V|) + Σ_{t∈s} tf·ln(c_st+1)`,
    * so absent (term, label) pairs never need rows: each log factor is
    * rounded to 6 and multiplied by an exact long under DECIMAL — the
    * whole score is an order-free exact sum, argmax ties broken on the
    * label string.
    *
    * Scale: labels are few BY DEFINITION (they are a classifier's
    * classes; the label list is read driver-side — a control-plane
    * collect of the class set, like KeyAssign's partition array).
    * Training is two count aggregates on the (term, label) key; the
    * per-label log factors then PIVOT to ONE row per term, so the
    * term-keyed scoring join (never forced broadcast — the vocabulary
    * side grows with the corpus, exactly the q98 lesson) carries each
    * doc-term row ONCE instead of once per label — the earlier
    * unpivoted join shuffled tf × |labels| rows and measured ~2×
    * slower at sf0.1. Per-doc partials combine map-side as |labels|
    * decimal sums per doc; only the final tiny (docs × labels) frame
    * explodes for the argmax window.
    */
  def naiveBayesClassify(docs: DataFrame, labelCol: String = "source",
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // Spread: the tokenize+explode is the CPU-heavy leg and inherits the
    // input's partitioning — a single-row-group corpus file would pin it
    // to one core (the codec-leg lesson, same shape)
    nbClassifyOver(Spread.toCores(docs).select(col(idCol).as("doc_id"),
      col(labelCol).as("actual"), tokens(col(textCol)).as("_toks")))

  /** Deterministic char-trigram language classifier — the fastText-lite
    * shape a real pipeline keys mixture decisions on, replacing
    * [[langIdHeuristic]]'s marker-word vote with a TRAINED profile: the
    * same add-one multinomial NB as [[naiveBayesClassify]] (identical
    * integer-exact scoring, so the argmax replays in any engine), with
    * character trigrams of the whitespace-normalized lowercase text as
    * the token stream and the DECLARED language column as the training
    * label. Character n-grams are the standard language-ID feature
    * (script coverage, no tokenizer dependency); training is
    * self-supervised on the corpus's own metadata, so the readout doubles
    * as a metadata QA pass — rows where the trained profile disagrees
    * with the declared tag are the mislabeling candidates.
    *
    * Scale: trigram rows are 3-grams per char — same order as the
    * tokenized corpus; everything downstream is [[naiveBayesClassify]]'s
    * pivoted-join shape (one term-keyed join, |langs| decimal partials).
    * The trigram array builds ONCE per row over the STAGED `_norm`
    * column (the q200 HOF lesson: a lambda over an unstaged expression
    * re-runs it per element). */
  def langIdNgram(docs: DataFrame, labelCol: String = "lang",
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // NO trigram array is ever built: dl is pure length arithmetic and
    // the token stream is explode(position sequence) + substring — whole
    // plan stays in codegen, where a transform() HOF building a
    // per-char array would run interpreted (measured ~2× slower at
    // sf0.1 and 3× the text in array bytes through the checkpoint).
    // norm is re-derived in both legs (one regexp per doc per leg) —
    // cheaper than materializing arrays to make it single-pass.
    val base = Spread.toCores(docs) // explode leg: never pin to 1 core
      .select(col(idCol).as("doc_id"), col(labelCol).as("actual"),
        regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("_norm"))
    val docsF = base.select(col("doc_id"), col("actual"),
      when(col("_norm").isNull, lit(null).cast("long"))
        .when(length(col("_norm")) >= 3, (length(col("_norm")) - 2).cast("long"))
        .otherwise(lit(0L)).as("dl"))
    // token INSTANCES, tf = 1 — NOT per-doc-aggregated counts: the
    // (doc, term) groupBy barely compressed (per-doc trigrams are mostly
    // distinct) while its full-stream shuffle + checkpoint dominated the
    // 10×-scale wall (measured 25 s of 30 s); the decimal scoring fold
    // is exact either way, so scores are bit-identical. The stream is
    // deliberately not materialized — re-tokenizing for the second
    // consumer is cheaper than storing every instance.
    val tf = base.filter(length(col("_norm")) >= 3)
      .select(col("doc_id"), col("actual"),
        (length(col("_norm")) - 2).cast("long").as("dl"), col("_norm"),
        explode(sequence(lit(1), length(col("_norm")) - 2)).as("_i"))
      .select(col("doc_id"), col("actual"), col("dl"),
        col("_norm").substr(col("_i"), lit(3)).as("term"), lit(1L).as("tf"))
    nbClassifyFrom(docsF, tf, materializeTf = false)
  }

  /** The shared NB trainer/scorer over a prepared (doc_id, actual,
    * _toks) frame — [[naiveBayesClassify]] and [[langIdNgram]] differ
    * ONLY in how `_toks` is produced. */
  private def nbClassifyOver(prepared: DataFrame): DataFrame = {
    // base is the doc universe: derived PRE-explode so a NULL-text doc —
    // which contributes no token rows — still gets scored (all-NULL score,
    // first label by tie-break), exactly like the oracle mirror's `d` CTE.
    // Materialized because docsF and the tf explode both read it.
    val base = prepared
      .select(col("doc_id"), col("actual"), col("_toks"),
        size(col("_toks")).cast("long").as("dl"))
      .materialized
    nbClassifyFrom(
      base.select(col("doc_id"), col("actual"), col("dl")),
      base.select(col("doc_id"), col("actual"), col("dl"),
          explode(col("_toks")).as("term"))
        .groupBy(col("doc_id"), col("actual"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")))
  }

  /** The NB trainer/scorer over prepared frames: `docsF` = one row per
    * doc (doc_id, actual, dl), `tf` = per-doc term counts (doc_id,
    * actual, dl, term, tf). Token production is the caller's — the array
    * path ([[nbClassifyOver]]) and [[langIdNgram]]'s codegen'd
    * explode-substring path both land here.
    *
    * `tfIn` may be PER-DOC AGGREGATED counts (tf ≥ 1) or raw token
    * INSTANCES (tf = 1, one row per occurrence) — the scoring fold
    * `Σ tf·lp` is a DECIMAL sum, exact and associative, so both forms
    * produce bit-identical scores. The instance form skips the
    * (doc, term)-keyed aggregate whose full-token-stream shuffle +
    * checkpoint dominated langid at scale (measured: the tf-only leg was
    * 25 s of the 30 s 10× wall); training still partial-aggregates
    * map-side because cst's key is (label, term) — vocabulary-sized
    * output, not corpus-sized. `materializeTf=false` skips checkpointing
    * the stream (storing every token instance costs more than the second
    * tokenize pass it saves — the langid measurement); the aggregated
    * word path keeps materializing its (smaller) tf. */
  private def nbClassifyFrom(docsFIn: DataFrame, tfIn: DataFrame,
                             materializeTf: Boolean = true): DataFrame = {
    val tf = if (materializeTf) tfIn.materialized else tfIn
    // docsF is read FOUR times (class priors, corpus total, the labels
    // collect, the scoring join) — tiny (3 columns, one row per doc), so
    // materializing beats four corpus re-scans of the caller's tokenizer
    val docsF = docsFIn.materialized
    val cst = tf.groupBy(col("actual").as("cand"), col("term"))
      .agg(sum(col("tf")).as("cst"))
      .materialized // vocabulary-sized; read by cs, the pivot AND vocab
    val cs = cst.groupBy(col("cand")).agg(sum(col("cst")).as("cs"))
    // distinct terms over cst ≡ distinct terms over tf (cst only folds
    // the label axis) — but cst is vocabulary-sized, never corpus-sized
    val vocab = cst.agg(countDistinct(col("term")).as("v"))
    val nd = docsF.groupBy(col("actual").as("cand")).agg(count(lit(1)).as("nd"))
    val n = docsF.agg(count(lit(1)).as("n"))
    // one row per label: prior and the OOV floor, both rounded once
    val consts = nd.crossJoin(n).join(cs, Seq("cand")).crossJoin(vocab)
      .select(col("cand"),
        round(log(col("nd").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(18,6)").as("prior_r"),
        round(log(col("cs").cast("double") + col("v").cast("double")), 6)
          .cast("decimal(18,6)").as("floor_r"))
    // class set, driver-side: a classifier's labels are bounded by
    // definition (control-plane read; NULL labels are not classes — a
    // NULL-labeled doc still gets scored against the real classes)
    val labels: Seq[String] = docsF.select(col("actual")).distinct()
      .collect().map(r => Option(r.getString(0))).flatten.sorted.toSeq
    require(labels.nonEmpty, "need at least one non-NULL label")
    val lpCols = labels.indices.map(i => s"_lp_$i")
    // per-label add-one log factors PIVOTED to one row per term, so the
    // term-keyed scoring join fans out ×1, not ×|labels|
    val lmstW = cst.groupBy(col("term"))
      .agg(
        max(when(col("cand") === labels.head,
          round(log(col("cst").cast("double") + lit(1.0)), 6)
            .cast("decimal(18,6)"))).as(lpCols.head),
        labels.tail.zipWithIndex.map { case (l, i) =>
          max(when(col("cand") === l,
            round(log(col("cst").cast("double") + lit(1.0)), 6)
              .cast("decimal(18,6)"))).as(lpCols(i + 1))
        }: _*)
    val zero = lit(0).cast("decimal(18,6)")
    val partW = tf.join(lmstW, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf").cast("decimal(18,6)") * coalesce(col(lpCols.head), zero))
          .as(s"_part_0"),
        lpCols.tail.zipWithIndex.map { case (c, i) =>
          sum(col("tf").cast("decimal(18,6)") * coalesce(col(c), zero))
            .as(s"_part_${i + 1}")
        }: _*)
    // the docs×labels grid only exists on the tiny per-doc frame
    val scored = docsF.join(partW, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("actual") +: col("dl") +:
        labels.indices.map(i =>
          coalesce(col(s"_part_$i"), lit(0).cast("decimal(38,12)")).as(s"_part_$i")): _*)
      .select(col("doc_id"), col("actual"), col("dl"),
        explode(array(labels.indices.map(i =>
          struct(lit(labels(i)).as("cand"), col(s"_part_$i").as("part"))): _*)).as("_e"))
      .select(col("doc_id"), col("actual"), col("dl"),
        col("_e.cand").as("cand"), col("_e.part").as("part"))
      .join(broadcast(consts), Seq("cand"))
      .select(col("doc_id"), col("actual"), col("cand"),
        (col("prior_r") - col("dl").cast("decimal(18,6)") * col("floor_r") +
          col("part")).as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_score").desc, col("cand").asc)
    scored.withColumn("_rnk", row_number().over(w)).filter(col("_rnk") === 1)
      .select(col("doc_id"), col("actual"), col("cand").as("predicted"),
        col("_score").cast("double").as("score"),
        when(col("cand") === col("actual"), 1L).otherwise(0L).as("correct"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): rank every document within its source by
    * language-model fluency ([[bigramLogProb]]'s mean transition
    * log-probability) and cut each source into `nBuckets` equal bands —
    * head/middle/tail for the classic 3. Per-SOURCE ranking is the point:
    * an absolute threshold would empty out sources whose register differs
    * from the corpus mode; relative banding keeps every source's best.
    *
    * Scale: the LM score is [[bigramLogProb]] unchanged; banding adds one
    * doc-keyed join and ONE window partitioned by source. Ordering is
    * (avg_logprob desc, doc_id) so equal scores band deterministically.
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
                        byCol: String = "source",
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    val scored = bigramLogProb(docs, idCol, textCol)
    val src = docs.select(col(idCol).as("doc_id"), col(byCol).as("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("avg_logprob").desc, col("doc_id"))
    val banded = scored.join(src, Seq("doc_id"))
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .withColumn("band",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets.toLong, "tail")
          .otherwise("middle"))
    // docs with NO transitions (single-token/blank — bigramLogProb emits
    // no row) are still CORPUS MEMBERS: they surface with NULL score and
    // band rather than silently vanishing from the banding. They do not
    // participate in the ntile (an undefined perplexity has no rank).
    src.join(banded.select(col("doc_id"), col("avg_logprob"),
        col("bucket"), col("band")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        col("bucket"), col("band"))
  }

  /** Vocabulary induction + tokenization to ids — the step between raw
    * text and [[packSequences]]/[[lengthBucketedBatches]]: build the
    * top-`vocabSize` token vocabulary by corpus frequency (ties on the
    * token string, so the id table is deterministic), assign ids 1..V in
    * rank order, and map every document to its id sequence with OOV → 0.
    * Returns (doc_id, ids, n_tokens, n_oov).
    *
    * Scale: one tf aggregate over the exploded token stream (map-side
    * partial), top-V via orderBy+limit — Spark plans TakeOrderedAndProject,
    * a tree-reduced top-k, never a global sort of the vocabulary — then a
    * broadcast id join and ONE doc-key shuffle to reassemble sequences in
    * position order (array_sort on (pos, id) structs: exact, engine-
    * portable). The id-assignment window runs over ≤V rows (the one
    * deliberately tiny unpartitioned window, same class as q57's daily
    * deltas). */
  def tokenizeToIds(docs: DataFrame, vocabSize: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("tok"))
      .limit(vocabSize)
      .withColumn("id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_cnt").desc, col("tok"))).cast("long"))
      .select(col("tok"), col("id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0L)).as("id"))
      .groupBy(col("doc_id"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, id))), x -> x.id)").as("ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units" — the actual
    * BPE trainer, not a frequency cut): start from characters (+ a
    * word-final `</w>` marker), and for `rounds` iterations count every
    * adjacent symbol pair weighted by word frequency, merge the most
    * frequent pair corpus-wide, rewrite, repeat. Returns the merge table
    * (round, left, right, pair_count) — the artifact a subword tokenizer
    * ships.
    *
    * The per-round rewrite is WINDOW math, not a sequential fold: a merge
    * can only chain into itself when left == right (pairs at p and p+1
    * share symbol p+1, forcing a == b), so BPE's leftmost-nonoverlapping
    * rule is exactly "merge starts at even offsets within each
    * equal-symbol run" — computable with gaps-and-islands row_numbers,
    * all partitioned by word. Every count is an exact long and ties
    * break (count desc, left, right), so the table replays bit-for-bit
    * on any engine and any partitioning.
    *
    * Scale: the state is the DISTINCT-WORD symbol table (words × avg
    * word length rows — the classic trainer's working set, corpus
    * frequency folded in as a weight column, never re-scanned), each
    * round is one pair-count aggregate (map-side partial), a tree top-1
    * (no global sort), and one word-partitioned window pass;
    * localCheckpoint per round cuts the k-round lineage exactly like
    * the PageRank loop. Rounds are bounded and explicit. */
  def bpeMerges(docs: DataFrame, rounds: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bpeTrain(docs, rounds, textCol)._1

  /** Per-document subword statistics under a `rounds`-merge BPE model —
    * the INFERENCE half of [[bpeMerges]] (its pqEncode to the trainer's
    * codebook): train the merge table, keep the rewritten distinct-word
    * symbol table, and join each document's token stream against its
    * word's post-merge symbol count. `n_subwords` counts the `</w>`
    * markers too (they are real vocabulary entries); `chars_per_subword`
    * is the compression readout tokenizer sizing tracks (round(…, 6),
    * marker chars excluded from the numerator). Docs with no tokens
    * (NULL text) keep a row with zero counts and NULL ratio.
    *
    * Scale: the per-doc stream joins the distinct-word stats on the word
    * key — the same shuffle the tf aggregates already do; the training
    * cost is [[bpeMerges]]'s and is paid once. */
  def bpeSegment(docs: DataFrame, rounds: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wordStats = bpeTrain(docs, rounds, textCol)._2
      .groupBy(col("w")).agg(count(lit(1)).as("_nsym"))
      .withColumn("_wlen", length(col("w")))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("w"))
    val agg = toks.join(wordStats, Seq("w"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("_nw"),
        sum(col("_nsym")).as("_ns"),
        sum(col("_wlen").cast("long")).as("_nc"))
    docs.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_nw"), lit(0L)).cast("long").as("n_words"),
        coalesce(col("_ns"), lit(0L)).cast("long").as("n_subwords"),
        when(col("_ns").isNotNull && col("_ns") > 0,
          round(col("_nc").cast("double") / col("_ns"), 6))
          .as("chars_per_subword"))
  }

  /** Unigram-LM tokenizer training (the Kudo 2018 / SentencePiece
    * family — the OTHER subword tokenizer real pipelines ship beside
    * [[bpeMerges]]'s BPE), as bounded relational rounds with hard-EM:
    *
    *   - **Seed**: every substring of length ≤ `maxPieceLen` of the
    *     distinct-word table with corpus count (occurrence-weighted by
    *     word frequency) ≥ `minSeedCount`, plus ALL single characters —
    *     the coverage floor that keeps every word segmentable.
    *   - **E-step (hard)**: Viterbi-segment each distinct word under
    *     the current piece log-probs. The DP runs as PREFIX-LENGTH
    *     rounds (the [[bpeMerges]] loop pattern): round i computes the
    *     best segmentation of every word's length-i prefix from rounds
    *     i−maxPieceLen..i−1 — one piece-keyed broadcast join + one
    *     argmax per round, ≤ `maxWordLen` rounds per iteration.
    *     Kudo's full EM soft-counts every segmentation via
    *     forward-backward; hard-EM (Viterbi counts) is the standard
    *     deterministic simplification and keeps every intermediate an
    *     exact DECIMAL so the argmax replays in any engine.
    *     Tie-break: highest (score, last-piece length, piece) —
    *     deterministic and engine-replayable.
    *   - **M-step**: piece counts from the Viterbi segmentations
    *     (frequency-weighted), single characters floored at count 1
    *     (never leave the vocab), unused multi-char pieces drop (the
    *     hard-EM analogue of Kudo's loss-ranked pruning), log-probs
    *     renormalize as `round(ln(cnt/total), 6)` — the one
    *     fixed-shape double expression, summed as DECIMAL (the
    *     [[unigramLogProb]] engine-parity convention).
    *
    * Words longer than `maxWordLen` are out of the model (SentencePiece
    * caps piece-able sentence length the same way; rare long words
    * contribute little mass) — the SEGMENT readout counts model words
    * only. Scale: every frame is DISTINCT-WORD cardinality (never
    * corpus), the piece table is vocab-bounded (broadcast), rounds are
    * `nIters · maxWordLen` keyed joins — control-plane work beside the
    * corpus-sized token stream, exactly like BPE training. */
  private[graft] def unigramTrainCore(docs: DataFrame, nIters: Int,
      maxPieceLen: Int, minSeedCount: Long, maxWordLen: Int,
      textCol: String): (DataFrame, DataFrame) = {
    require(nIters >= 1 && nIters <= 8, "nIters in [1, 8]")
    require(maxPieceLen >= 2 && maxPieceLen <= 16, "maxPieceLen in [2, 16]")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64, "maxWordLen in [maxPieceLen, 64]")
    val words = (docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("w"))))
      .materialized
    // ONE substring enumeration, shared by the seed counts and every
    // E-step's edge set (the round form re-derived it per DP round).
    // Footprint note (r17 advice): this holds distinct-words ×
    // Σ min(maxPieceLen, len−i+1) rows — each carrying the word string —
    // resident in the BlockManager for the whole training loop. At the
    // catalog's 12×4 that is ≤ ~45 rows/word; at the API maxima (64×16,
    // ~1000 rows/word) a large-vocab caller should materialize only
    // (w, freq, i, k) and re-derive `piece` on read.
    val subs = words
      .select(col("w"), col("freq"), col("len"),
        explode(sequence(lit(1), col("len"))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), col("len") - col("i") + 1))).as("k"))
      .withColumn("piece", expr("substring(w, i, k)"))
      .materialized
    val seedCnt = subs.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .filter(col("cnt") >= minSeedCount || length(col("piece")) === 1)
    def withLogp(cnts: DataFrame): DataFrame = {
      val tot = cnts.agg(sum(col("cnt")).as("_tot"))
      cnts.crossJoin(broadcast(tot))
        .select(col("piece"), col("cnt"),
          round(log(col("cnt").cast("double") / col("_tot").cast("double")), 6)
            .cast("decimal(18,6)").as("lp"))
    }
    var pieces = withLogp(seedCnt).materialized
    // the coverage-floor set: every character seen in any model word
    val chars = subs.filter(col("k") === 1)
      .select(col("piece")).distinct()
      .materialized
    val maxLenRow = words.agg(max(col("len"))).collect()(0) // one-row stat
    val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
    // TYPED empty, never spark.emptyDataFrame: a corpus with no model
    // words (all tokens over the cap, or empty) must still hand
    // unigramSegment a resolvable (w, freq, seg, score) schema so the
    // zero-count membership rows survive (the r16 review finding)
    var segs: DataFrame = words
      .select(col("w"), col("freq"),
        array().cast("array<string>").as("seg"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)").as("score"))
      .limit(0)
    var it = 0
    while (it < nIters && maxLen > 0) {
      // E-step as ONE pass: per word, collect its in-vocab substring
      // edges (≤ maxWordLen·maxPieceLen of them — bounded per row at any
      // corpus size) and run the whole prefix DP in graft.functions
      // .UnigramViterbi, value-identical to the per-prefix-round
      // join+argmax chain (UnigramEquivalenceSpec pins it). The round
      // form paid nIters·maxWordLen join+aggregate+checkpoint STAGES on
      // these vocab-cardinality frames — pure stage overhead at any
      // realistic distinct-word count (the r16 sliding-window A/B showed
      // exactly that); this form pays one broadcast join + one keyed
      // aggregate per iteration and the frame stays distinct-word-
      // bounded. Edge order from collect_list is nondeterministic and
      // irrelevant: the DP argmax tie-breaks on (score, piece length,
      // piece) — a total order over distinct candidates.
      val pieceMu = pieces.select(col("piece"),
        (col("lp") * lit(1000000)).cast("long").as("lp_mu"))
      val dp = subs.join(broadcast(pieceMu), Seq("piece"))
        .groupBy(col("w"), col("freq"))
        .agg(collect_list(struct(col("i"), col("k"), col("lp_mu"))).as("_edges"))
        .withColumn("_v",
          graft.functions.UnigramViterbi(col("w"), col("_edges")))
        .filter(col("_v").isNotNull)
      segs = dp.select(col("w"), col("freq"),
          col("_v.seg").as("seg"), col("_v.score").as("score"))
        .materialized
      val counts = segs.select(col("freq"), explode(col("seg")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .materialized // read by the floor join AND the anti-join
      val floored = chars.join(counts, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
        .unionByName(counts.join(chars, Seq("piece"), "left_anti"))
      pieces = withLogp(floored).materialized
      it += 1
    }
    (pieces, segs)
  }

  /** The trained unigram-LM piece table: (piece, cnt, logp) after the
    * final M-step — cnt is the hard-EM count (single chars floored at
    * 1), logp the renormalized `round(ln(cnt/total), 6)`. */
  def unigramPieces(docs: DataFrame, nIters: Int = 2, maxPieceLen: Int = 4,
                    minSeedCount: Long = 2L, maxWordLen: Int = 12,
                    textCol: String = "text"): DataFrame =
    unigramTrainCore(docs, nIters, maxPieceLen, minSeedCount, maxWordLen,
      textCol)._1
      .select(col("piece"), col("cnt"),
        Stats.canonZero(col("lp").cast("double")).as("logp"))

  /** Per-document segmentation statistics under the trained unigram LM
    * — [[bpeSegment]]'s shape for the other tokenizer: each doc's token
    * stream joined to its word's FINAL Viterbi segmentation (model
    * words only — see [[unigramTrainCore]] on the length cap);
    * `chars_per_piece` is the compression readout. Docs with no model
    * words keep a row with zero counts and NULL ratio. */
  def unigramSegment(docs: DataFrame, nIters: Int = 2, maxPieceLen: Int = 4,
                     minSeedCount: Long = 2L, maxWordLen: Int = 12,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wordStats = unigramTrainCore(docs, nIters, maxPieceLen, minSeedCount,
      maxWordLen, textCol)._2
      .select(col("w"), size(col("seg")).cast("long").as("_np"),
        length(col("w")).cast("long").as("_wlen"))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("w"))
    val agg = toks.join(wordStats, Seq("w"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("_nw"),
        sum(col("_np")).as("_ns"),
        sum(col("_wlen")).as("_nc"))
    docs.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_nw"), lit(0L)).cast("long").as("n_words"),
        coalesce(col("_ns"), lit(0L)).cast("long").as("n_pieces"),
        when(col("_ns").isNotNull && col("_ns") > 0,
          round(col("_nc").cast("double") / col("_ns").cast("double"), 6))
          .as("chars_per_piece"))
  }

  /** Corpus encoding under the trained unigram LM — the readout a
    * training pipeline actually feeds the model: every token instance
    * exploded to its Viterbi pieces with STABLE integer ids
    * (`piece_id` = rank by (count desc, piece) over the final vocab —
    * deterministic, engine-replayable). One row per (doc, token
    * position, piece index); model words only (the
    * [[unigramTrainCore]] length cap). The vocab-id window is
    * unpartitioned but runs on the VOCAB frame — bounded control-plane
    * cardinality, the [[graft.operators.Packing]] convention. */
  def unigramEncode(docs: DataFrame, nIters: Int = 2, maxPieceLen: Int = 4,
                    minSeedCount: Long = 2L, maxWordLen: Int = 12,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (pieces, segs) = unigramTrainCore(docs, nIters, maxPieceLen,
      minSeedCount, maxWordLen, textCol)
    val ids = pieces.withColumn("piece_id",
      row_number().over(Window.orderBy(col("cnt").desc, col("piece"))).cast("long"))
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("token_pos", "w")))
    toks.join(segs.select(col("w"), col("seg")), Seq("w"))
      .select(col("doc_id"), col("token_pos").cast("long").as("token_pos"),
        posexplode(col("seg")).as(Seq("piece_ix", "piece")))
      .join(broadcast(ids.select(col("piece"), col("piece_id"))), Seq("piece"))
      .select(col("doc_id"), col("token_pos"),
        col("piece_ix").cast("long").as("piece_ix"), col("piece"),
        col("piece_id"))
  }

  /** Shared trainer core: (merge table, final rewritten symbol table).
    * `checkpoint = false` keeps the full lineage — exponentially deep
    * past a few rounds, so ONLY for plan audits (PlanSpec inspects the
    * window partitioning the eager checkpoints would otherwise hide). */
  /** The shipped BPE trainer: per round, ONE distributed pair-count
    * aggregate over the distinct-word frame (symbols re-derived per row
    * by the compiled [[graft.functions.BpeSymbols]] merge-application
    * expression — merges-so-far ride as a ≤ 64-entry literal) and a
    * tree top-1 whose single winner row crosses to the driver — the
    * same one-row control-plane probe the round form already paid for
    * its `isEmpty` early-stop (and the unigram trainer's `max(len)`
    * stat). The windowed per-round rewrite (lead + 3 window passes +
    * localCheckpoint of the full symbol table, ~5 stages/round) is kept
    * in the tests as `TrainRounds.bpeTrainRounds`, the equivalence
    * reference; BpeEquivalenceSpec pins bit-identical (table, syms) on
    * run-heavy/unicode/tie fixtures.
    *
    * Scale: the aggregate input is distinct words × avg symbols — the
    * classic trainer's working set — with map-side partial aggregation;
    * per round exactly one shuffle of (pair, count) rows (vocab²-bounded,
    * tiny) and one driver row. At 100 TB the shape is unchanged: the
    * corpus is touched once (the word count), every round is
    * vocab-bounded control-plane work. */
  private[graft] def bpeTrain(docs: DataFrame, rounds: Int, textCol: String,
                              checkpoint: Boolean = true): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1, 64]")
    val spark = docs.sparkSession
    val words0 = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // one checkpoint total (the round form paid one per round); tests
    // pass checkpoint=false to keep lineage for plan audits
    val words = if (checkpoint) words0.materialized else words0
    val mergeRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var lefts = Vector.empty[String]
    var rights = Vector.empty[String]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val symsArr = graft.functions.BpeSymbols(col("w"), lefts, rights)
      // adjacent pairs of the post-merge symbols: zip the array against
      // its own 1-shift (slice length ≥ 0 — a fully-merged word has one
      // symbol, zero pairs, and explode drops it like the round form's
      // nxt-IS-NOT-NULL filter). _s stays its own projection so the
      // merge expression evaluates once, not once per slice.
      val withS = words.select(col("freq"), symsArr.as("_s"))
      val pairs = withS.select(col("freq"), explode(zip_with(
          slice(col("_s"), lit(1), size(col("_s")) - 1),
          slice(col("_s"), lit(2), size(col("_s")) - 1),
          (l, rr) => struct(l.as("left"), rr.as("right")))).as("_p"))
      val best = pairs
        .groupBy(col("_p.left").as("left"), col("_p.right").as("right"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true // fully merged: later rounds are no-ops
      else {
        val l = best(0).getString(0)
        val rr = best(0).getString(1)
        mergeRows += org.apache.spark.sql.Row(r.toLong, l, rr, best(0).getLong(2))
        lefts :+= l
        rights :+= rr
        r += 1
      }
    }
    val tableSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("left",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("right",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("pair_count",
        org.apache.spark.sql.types.LongType, nullable = true)))
    // LocalRelation — the merge table is ≤ `rounds` tiny rows already on
    // the driver; readers see a LocalTableScan, no job
    val table = spark.createDataFrame(
      java.util.Arrays.asList(mergeRows.toSeq: _*), tableSchema)
    val symsFinal = words
      .select(col("w"), col("freq"),
        posexplode(graft.functions.BpeSymbols(col("w"), lefts, rights)))
      .select(col("w"), col("freq"), (col("pos") + 1).as("pos"),
        col("col").as("sym"))
    (table, symsFinal)
  }

  /** Directed KL divergence between per-source unigram distributions —
    * the dataset-mixture drift metric beside q92's lexical overlap and
    * q107's embedding similarity: KL(A‖B) answers "how surprised is a
    * model of B by A's tokens" (asymmetric by design — a subset corpus
    * diverges little FROM its superset but the superset diverges from
    * it). Add-one smoothing over the GLOBAL vocabulary keeps every term
    * finite.
    *
    * Determinism (the NB contract): with ca1 = c_a+1, na1 = N_a+V, the
    * sum decomposes as Σ ca1·(ln ca1 − ln cb1) + na1·(ln nb1 − ln na1) —
    * tokens absent from both sources contribute exactly 0 to the first
    * term, so summing over each pair's PRESENT tokens is exact. Every ln
    * is rounded once to 6 dp and multiplied by exact integers under
    * DECIMAL; the readout is one division, rounded once.
    *
    * Scale: ONE (source, token) count aggregate; the pair grid is
    * sources² (tiny, broadcast); per-pair terms are two token-keyed
    * equi-joins of the tf frame against the grid — cost sources × vocab,
    * never corpus². V rides a one-row broadcast, no driver collect. */
  def sourceKlDivergence(docs: DataFrame, groupCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    def r6ln(c: Column): Column =
      round(log(c.cast("double")), 6).cast("decimal(12,6)")
    val tf = docs.select(col(groupCol).as("_g"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("_g"), col("tok")).agg(count(lit(1)).as("c"))
      .materialized // consumed by totals + both pair legs
    val totals = tf.groupBy(col("_g")).agg(sum(col("c")).as("n"))
    val vocab = tf.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val srcs = totals.crossJoin(broadcast(vocab))
      .select(col("_g"), (col("n") + col("v")).as("n1"))
    // NULL-SAFE pair grid and joins throughout (the psiFromBinned /
    // chiSquareDrift discipline): a NULL source is a real group — the
    // "suddenly unlabeled" drift mode — and =!= / equi-joins would
    // silently drop it from every pair
    val pairs = srcs.select(col("_g").as("a"), col("n1").as("na1"))
      .join(broadcast(srcs.select(col("_g").as("b"), col("n1").as("nb1"))),
        !(col("a") <=> col("b")))
    val ta = tf.select(col("_g").as("a"), col("tok"), col("c").as("ca"))
    val tb = tf.select(col("_g").as("b"), col("tok"), col("c").as("cb"))
    // per-pair union vocabulary in two exact legs: a-present tokens with
    // b's count left-joined, then b-only tokens (anti-join) with ca = 0
    val present = pairs
      .join(ta.withColumnRenamed("a", "_ja"), col("a") <=> col("_ja"))
      .select(col("a"), col("b"), col("na1"), col("nb1"), col("tok"), col("ca"))
      .join(tb.withColumnRenamed("b", "_jb").withColumnRenamed("tok", "_jt"),
        col("b") <=> col("_jb") && col("tok") === col("_jt"), "left")
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .select(col("a"), col("b"), col("na1"), col("nb1"), col("tok"),
        col("ca"), col("cb"))
    val bOnly = pairs
      .join(tb.withColumnRenamed("b", "_jb"), col("b") <=> col("_jb"))
      .join(ta.withColumnRenamed("a", "_ja").withColumnRenamed("tok", "_jt"),
        col("a") <=> col("_ja") && col("tok") === col("_jt"), "left_anti")
      .select(col("a"), col("b"), col("na1"), col("nb1"), col("tok"),
        lit(0L).as("ca"), col("cb"))
    val sums = present.unionByName(bOnly)
      .withColumn("_t",
        ((col("ca") + 1).cast("decimal(20,0)") *
          (r6ln(col("ca") + 1) - r6ln(col("cb") + 1))).cast("decimal(30,6)"))
      .groupBy(col("a"), col("b"), col("na1"), col("nb1"))
      .agg(sum(col("_t")).as("_s"))
    sums.select(col("a").as("source_a"), col("b").as("source_b"),
      Stats.canonZero(round((col("_s").cast("double") +
        col("na1").cast("double") * (r6ln(col("nb1")).cast("double") -
          r6ln(col("na1")).cast("double"))) / col("na1"), 6)).as("kl_div"))
  }

  /** Per-group vocabulary statistics — the Heaps'-law corpus-health
    * readout beside [[zipfSlope]]'s frequency shape: token count, type
    * (distinct-token) count, hapax/dis legomena (frequency-1/-2 types),
    * hapax rate and type-token ratio. Natural text holds hapax rate
    * ≈ 0.4-0.6 at any size (new words keep arriving — Heaps' law);
    * boilerplate/template mass crushes it toward 0, and a deduped
    * corpus shows it climbing back up. TTR falling with corpus size is
    * expected; hapax RATE falling is the alarm.
    *
    * Determinism: pure integer counts; the two rates are one rounded
    * division each. Scale: ONE (group, token) count aggregate (map-side
    * combine collapses repeats) + a per-group conditional aggregate over
    * the vocabulary — bounded by vocabulary, never corpus². */
  def vocabStats(docs: DataFrame, groupCol: String = "source",
                 textCol: String = "text"): DataFrame =
    docs.select(col(groupCol).as("_g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("_g"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("_g"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
      .select(col("_g").as(groupCol), col("n_tokens"), col("n_types"),
        col("hapax"), col("dis"),
        round(col("hapax").cast("double") / col("n_types"), 6).as("hapax_rate"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("type_token_ratio"))

  /** Zipf rank-frequency slope per group — the corpus-health readout:
    * natural language's rank-frequency plot is near-linear in log-log
    * with slope ≈ −1 (Zipf's law); generated/boilerplate text flattens
    * it (slope → 0), dedup failures steepen the head. Fits ordinary
    * least squares on (ln rank, ln count) over each group's `topK` most
    * frequent types (ties (count desc, token) so the fitted set is
    * engine-exact).
    *
    * Determinism: x = round(ln rank, 6) and y = round(ln count, 6) carry
    * as DECIMAL; all four OLS sums are exact decimal; the slope is one
    * fixed-shape double expression over them, rounded once. Groups with
    * < 2 types get NULL slope.
    *
    * Scale: one (group, token) count aggregate (map-side partial), one
    * GROUP-partitioned rank window (sort within each group's vocabulary
    * — never a global sort), the topK filter, and a per-group sum
    * aggregate over ≤ topK rows. */
  def zipfSlope(docs: DataFrame, topK: Int = 512, groupCol: String = "source",
                textCol: String = "text"): DataFrame = {
    require(topK >= 2, "need at least 2 ranks to fit a slope")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("cnt").desc, col("tok"))
    val ranked = docs.select(col(groupCol).as("_g"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("_g"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
    val x = round(log(col("rnk").cast("double")), 6).cast("decimal(12,6)")
    val y = round(log(col("cnt").cast("double")), 6).cast("decimal(12,6)")
    val fitted = ranked.groupBy(col("_g")).agg(
      count(lit(1)).as("n"),
      sum(x.cast("decimal(24,6)")).as("sx"),
      sum(y.cast("decimal(24,6)")).as("sy"),
      sum((x * y).cast("decimal(30,12)")).as("sxy"),
      sum((x * x).cast("decimal(30,12)")).as("sxx"),
      max(col("cnt")).as("top_count"))
    val n = col("n").cast("double")
    val denom = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    fitted.select(col("_g").as(groupCol), col("n").as("n_types_fit"),
      col("top_count"),
      when(denom =!= 0.0,
        Stats.canonZero(round((n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) / denom, 6)))
        .as("zipf_slope"))
  }

  /** Collocation mining by pointwise mutual information — the phrase
    * discovery a vocabulary/tokenizer pipeline runs before deciding what
    * deserves a merged token: for adjacent token pairs occurring at least
    * `minCount` times, `pmi = ln(c(ab)·T / (c(a)·c(b)))` with T = total
    * transitions. High-PMI pairs co-occur far above chance (named
    * entities, idioms); frequent-but-low-PMI pairs are grammatical glue.
    *
    * Engine parity: all counts exact longs from ONE bigram aggregate and
    * one unigram aggregate over the same window-lead token stream; pmi is
    * one fixed-shape double expression rounded to 6.
    *
    * Scale: two count aggregates (map-side partial); the unigram joins are
    * left to AQE — `big` is minCount-filtered but ua/ub are the FULL
    * vocabulary, which at web scale outgrows a forced broadcast (unlike
    * the LM scorers' smoothed tables, these have no cheap bound), and all
    * three frames share the token key so the shuffle join co-partitions.
    */
  def collocations(docs: DataFrame, minCount: Long = 5,
                   textCol: String = "text"): DataFrame = {
    val base = docs.select(tokens(col(textCol)).as("_toks"))
    val grams = base
      .select(col("_toks"), posexplode(col("_toks")).as(Seq("_i", "a")))
      .filter(col("_i") < size(col("_toks")) - 1)
      .select(col("a"), element_at(col("_toks"), col("_i") + 2).as("b"))
      .materialized // consumed by the bigram AND both unigram counts
    val big = grams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    // unigram counts over transition SLOTS (first/last doc tokens weigh
    // their slot only), so p(a)·p(b) and p(ab) share one sample space
    val ua = grams.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val ub = grams.groupBy(col("b")).agg(count(lit(1)).as("cb"))
    val total = grams.agg(count(lit(1)).as("t"))
    big.join(ua, Seq("a"))
      .join(ub, Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("cab"),
        round(log(col("cab").cast("double") * col("t").cast("double") /
          (col("ca").cast("double") * col("cb").cast("double"))), 6).as("pmi"))
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size V,
    * what fraction of the corpus TOKEN STREAM the top-V types cover —
    * the sizing analysis run before committing to a tokenizer vocab
    * (coverage knees answer "is 32k enough or does 64k pay for itself").
    *
    * Scale: ONE term-frequency aggregate (map-side partial), then each V
    * is a TakeOrderedAndProject tree top-k over the materialized tf
    * frame — no global rank window, no vocabulary-wide sort; ties broken
    * (cnt desc, tok) so every engine picks the same top-V set. Returns
    * one row per V: (v, n_types, total_tokens, covered_tokens,
    * coverage round(…,6)). */
  def vocabCoverageCurve(docs: DataFrame, sizes: Seq[Int],
                         textCol: String = "text"): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), "sizes must be positive")
    val tf = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .materialized // one tf pass shared by every V
    val totals = tf.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("n_types"))
    sizes.map { v =>
      tf.orderBy(col("cnt").desc, col("tok")).limit(v)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("covered_tokens"))
        .select(lit(v.toLong).as("v"), col("covered_tokens"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(totals))
      .select(col("v"), col("n_types"), col("total_tokens"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
  }

  /** Character-class profile: per doc, how much of the text is ascii
    * letters / digits / whitespace / other — the cheap corpus-QA scan
    * that catches binary junk, markup dumps, and non-text payloads
    * before they reach a tokenizer. Counts via length-difference against
    * a class-stripped regexp_replace (each class one codegen'd scan of
    * the value, no explode); fractions round(…,6) over n_chars. */
  def charClassProfile(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val t = lower(col(textCol))
    val n = length(t)
    def classCount(pattern: String) =
      n - length(regexp_replace(t, pattern, ""))
    val alpha = classCount("[a-z]")
    val digit = classCount("[0-9]")
    val space = classCount("\\s")
    docs.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_chars"),
      alpha.cast("long").as("n_alpha"),
      digit.cast("long").as("n_digit"),
      space.cast("long").as("n_space"),
      (n - alpha - digit - space).cast("long").as("n_other"),
      when(n > 0, round(alpha.cast("double") / n, 6)).as("alpha_frac"))
  }

  /** Shannon character entropy per document (nats) — the compressibility
    * screen next to [[charClassProfile]]'s class counts: base64 blobs /
    * hex dumps sit near ln(alphabet) (high), single-character padding
    * and repeated-char junk near 0 (low), natural prose in between —
    * catching binary-ish junk whose CLASS mix looks normal.
    *
    * H = ln(n) − (Σ_c c·ln c)/n over per-character counts c. Determinism
    * contract (same as [[naiveBayesClassify]]): each ln(c) is rounded
    * ONCE to 6 dp and multiplied by the exact integer count under
    * DECIMAL, so the per-doc sum is order-free; the readout is that
    * exact decimal through one fixed-shape double expression, rounded
    * once. Empty/NULL text yields zero counts and NULL entropy.
    *
    * Scale: MAP-ONLY — the per-doc character counts are per-row local
    * state (≤ alphabet size), so the whole operator is one scan through
    * the native [[graft.functions.CharEntropyStats]] expression: no
    * explode, no shuffle, nothing but the projection. The expression's
    * arithmetic is value-identical to the relational formulation the
    * ORACLE runs (per-char counts, decimal plogp sum, one rounded
    * readout), so the plan changed and the results cannot.
    * Nothing pairs documents; no window anywhere. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.CharEntropyStats.stats(col(textCol)).as("_s"))
      .select(col("doc_id"),
        col("_s.n_chars").as("n_chars"),
        col("_s.n_distinct").as("n_distinct"),
        col("_s.entropy").as("entropy"))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document in the RAW pool by how much more likely its
    * hashed bag-of-words is under the TARGET corpus' bucket unigram model
    * than under the raw pool's own. `isTarget` marks the quality-exemplar
    * rows — they train the target model and are never scored; everything
    * else is the raw pool being selected from.
    *
    * Features are md5-bucketed normalized tokens (`buckets` cells — the
    * paper's hashed n-gram generative model), both models add-one
    * smoothed over the bucket space. log w(x) = Σ_b c_b(x) ·
    * [ln p_target(b) − ln p_raw(b)]; each per-bucket log-ratio is rounded
    * ONCE to 6 dp and carried as DECIMAL(18,6), so the per-doc sum is an
    * order-free exact decimal the oracle replays bit-for-bit (same
    * determinism contract as [[naiveBayesClassify]]).
    *
    * Scale: tokenize+bucket is one map-only pass; per-doc bucket counts
    * shuffle on (doc, bucket) — bounded by corpus tokens, and the bucket
    * cap means a long document contributes at most `buckets` rows; the
    * two model tables aggregate to ≤ `buckets` rows and broadcast back.
    * Nothing pairs documents. A NULL-text raw doc scores logw = 0 (no
    * feature rows), mirroring the oracle's row membership.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), isTarget.as("_t"),
        tokens(col(textCol)).as("_toks"))
      .materialized // read by the raw universe AND the tf explode
    val tf = base
      .select(col("doc_id"), col("_t"), explode(col("_toks")).as("term"))
      .select(col("doc_id"), col("_t"),
        (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long") %
          buckets).as("bucket"))
      .groupBy(col("doc_id"), col("_t"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .materialized // read by both model aggregates AND scoring
    val tp = tf.filter(col("_t"))
      .groupBy(col("bucket")).agg(sum(col("c")).as("tp"))
    val tq = tf.filter(!col("_t"))
      .groupBy(col("bucket")).agg(sum(col("c")).as("tq"))
    val totals = tf.agg(
      sum(when(col("_t"), col("c")).otherwise(lit(0L))).as("t_tot"),
      sum(when(!col("_t"), col("c")).otherwise(lit(0L))).as("q_tot"))
    // raw docs only reference buckets present in tq, so tq LEFT JOIN tp
    // covers the scored feature space; absent target buckets smooth to
    // ln(1/(t_tot+B)).
    val ratio = tq.join(tp, Seq("bucket"), "left").crossJoin(totals)
      .select(col("bucket"),
        round(
          log((coalesce(col("tp"), lit(0L)).cast("double") + 1.0) /
            (col("t_tot").cast("double") + buckets.toDouble)) -
            log((col("tq").cast("double") + 1.0) /
              (col("q_tot").cast("double") + buckets.toDouble)), 6)
          .cast("decimal(18,6)").as("lr_r"))
    val rawDocs = base.filter(!col("_t"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("n_toks"))
    val partial = tf.filter(!col("_t"))
      .join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("decimal(18,6)") * col("lr_r")).as("_w"))
    rawDocs.join(partial, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("_w"), lit(0).cast("decimal(38,12)")).as("logw"))
  }

  /** The resampling step of DSIR: keep the `k` raw documents with the
    * largest logw + Gumbel(0,1) noise — Gumbel-top-k IS weighted sampling
    * without replacement ∝ exp(logw). The noise is derived
    * deterministically from md5("g:" ++ doc_id), so the draw is seedless,
    * replayable across runs/partitionings, and identically computable by
    * the SQL oracle (same trick as [[Sampling.deterministicSample]]).
    * Selection is orderBy+limit — TakeOrderedAndProject keeps per-partition
    * heaps of k and never materializes a global sort at scale.
    */
  def dsirSample(docs: DataFrame, isTarget: Column, buckets: Int, k: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = dsirWeights(docs, isTarget, buckets, idCol, textCol)
    val h = conv(substring(md5(concat(lit("g:"), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("double")
    val u = (h + 1.0) / (math.pow(2.0, 60) + 2.0) // strictly inside (0,1)
    val g = round(-log(-log(u)), 6).cast("decimal(18,6)")
    w.withColumn("gumbel_r", g)
      .withColumn("gkey", col("logw") + col("gumbel_r"))
      .orderBy(col("gkey").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_toks"),
        col("logw").cast("double").as("logw"),
        col("gkey").cast("double").as("gkey"))
  }

  /** Tokenizer fertility / encoding-efficiency stats per group: how many
    * subword tokens per word (fertility), characters per token, and UTF-8
    * bytes per token each (source, lang) slice costs — the numbers that
    * size a tokenizer's vocabulary and predict training-token budgets per
    * corpus slice (multi-byte scripts inflate bytes/token; fragmenting
    * scripts inflate fertility). One map-only scan + one partial-agg
    * shuffle of a handful of longs per group; NULL-text docs count toward
    * n_docs but contribute no token mass (sum skips NULL, both engines).
    */
  def tokenizerFertility(docs: DataFrame,
                         groupCols: Seq[String] = Seq("source", "lang")): DataFrame = {
    val bpe = sum(col("_bpe"))
    val ws = sum(col("_ws"))
    docs.select(groupCols.map(col) ++ Seq(
        // the GUARDED count (Packing.tokenCount): the raw space split
        // merges newline/tab-separated words, inflating fertility for
        // every hard-wrapped document — the gopherFilter lesson
        Packing.tokenCount(col("text")).cast("long").as("_ws"),
        tokenCountBpe(col("text")).cast("long").as("_bpe"),
        length(col("text")).cast("long").as("_chars"),
        octet_length(col("text")).cast("long").as("_bytes")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        ws.as("n_words"),
        bpe.as("n_bpe_tokens"),
        sum(col("_chars")).as("n_chars"),
        sum(col("_bytes")).as("n_bytes"),
        round(sum(col("_chars")).cast("double") /
          when(bpe =!= 0, bpe.cast("double")), 6).as("chars_per_token"),
        round(sum(col("_bytes")).cast("double") /
          when(bpe =!= 0, bpe.cast("double")), 6).as("bytes_per_token"),
        round(bpe.cast("double") /
          when(ws =!= 0, ws.cast("double")), 6).as("fertility"))
  }

  /** Declared-vs-detected language confusion matrix: every (declared
    * lang, [[langIdHeuristic]] prediction) cell with its doc count — the
    * language-metadata QA pass that catches mislabeled slices before a
    * lang-filtered training mix trusts the labels. One scan + one tiny
    * aggregate; the matrix is at most |langs|² rows. */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang"), langIdHeuristic(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("is_match",
        when(col("lang") === col("lang_pred"), 1L).otherwise(0L))

  /** Per-document profile: all cheap text metrics in one projection (one
    * scan at any scale). */
  def profile(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"),
    col("lang"),
    col("source"),
    Packing.tokenCount(col("text")).cast("long").as("n_tokens"),
    tokenCountBpe(col("text")).cast("long").as("n_bpe_tokens"),
    qualityScore(col("text"), col("n_chars")).cast("long").as("quality"),
    langIdHeuristic(col("text")).as("lang_pred"),
    fingerprint(col("text")).as("fp"))

  // ---------------------------------------------------------------------
  // Deflate compression-ratio quality gate (the r16 verdict's #3 item)
  // ---------------------------------------------------------------------

  /** One scored document: UTF-8 byte length, deflated byte length, the
    * ratio (6 dp; NULL on empty), and the bucket verdict. Package-
    * visible (Encoders.product row types must stay janino-compilable —
    * the q149 lesson). */
  final case class CompressionRow(doc_id: Long, raw_len: Long,
                                  compressed_len: Long,
                                  ratio: Option[Double], verdict: String)

  /** Deflate compression-ratio quality signal — the near-free
    * repetition proxy of the Gopher/RefinedWeb family: boilerplate and
    * template spam deflate to a fraction of their size, natural prose
    * sits mid-range, and encrypted/binary-garbage "text" barely
    * compresses. One fixed-level zlib pass per document
    * (`java.util.zip.Deflater`, public JDK — the FlateDecode admission
    * argument in reverse), ratio = compressed/raw over UTF-8 bytes.
    *
    * Verdicts by ratio: `repetitive` < `loRatio` ≤ `normal` <
    * `hiRatio` ≤ `incompressible`; empty docs stay visible as `empty`
    * (never-vanish). Default thresholds 0.35 / 0.80 were MEASURED
    * against this JDK's deflater (template spam ≈ 0.14, English prose
    * ≈ 0.67, uniform-random printable ASCII ≈ 0.91 — ≥ 0.12 margin to
    * each boundary; see CompressionSpec's law tests).
    *
    * Compressed sizes are codec-implementation facts with no closed
    * form, so the ORACLE pins raw_len + verdict only (the q286
    * byte-totals convention); the exact-ratio laws live in the spec.
    *
    * 100 TB shape: map-only per-doc codec work inside the corpus scan
    * (the charset-transcode shape), one Deflater reused per partition,
    * zero shuffle. */
  def compressionRatio(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", level: Int = 6,
                       loRatio: Double = 0.35,
                       hiRatio: Double = 0.80): org.apache.spark.sql.Dataset[CompressionRow] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{LongType, StringType}
    val enc = Encoders.product[CompressionRow]
    Spread.toCores(docs)
      .select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(level)
        val it2 = it.map { case (id, text) =>
          val raw =
            if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (raw.isEmpty) CompressionRow(id, 0L, 0L, None, "empty")
          else {
            d.reset()
            d.setInput(raw); d.finish()
            var n = 0L
            val buf = new Array[Byte](8192)
            while (!d.finished()) n += d.deflate(buf)
            val ratio = math.rint(n.toDouble / raw.length * 1e6) / 1e6
            val verdict =
              if (ratio < loRatio) "repetitive"
              else if (ratio < hiRatio) "normal"
              else "incompressible"
            CompressionRow(id, raw.length.toLong, n, Some(ratio), verdict)
          }
        }
        // Deflater holds native memory: release on task COMPLETION, not
        // iterator drain — a downstream limit/take stops pulling early
        // and a drain-triggered end() would never run (the r17 review
        // finding)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        it2
      }(enc)
  }

  /** Compression fixture: mode = floorMod(id, 3) — (0) template spam
    * (`spam ` × (20 + id%5), ratio ≈ 0.14), (1) English prose with id
    * digits (≈ 0.67), (2) exactly 400 chars of LCG-uniform printable
    * ASCII (≈ 0.91). Modes 0-1 are string-replayable in SQL (raw_len
    * closed-form); mode 2's length is pinned at 400 so raw_len stays
    * closed-form without replaying the LCG. */
  def synthCompressionDocs(ids: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.LongType
    Spread.toCores(ids)
      .select(col(idCol).cast(LongType)).as(Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val text = Math.floorMod(id, 3L).toInt match {
            case 0 => "spam " * (20 + Math.floorMod(id, 5L).toInt)
            case 1 =>
              s"Document $id surveys the harvest records of district $id: " +
                s"wheat yields rose while barley fell, and the council of $id " +
                "noted that irrigation repairs, seed rotation, and fair " +
                "market pricing kept the granaries stocked through an " +
                "unusually wet spring season."
            case _ =>
              var x = id
              val sb = new StringBuilder
              while (sb.length < 400) {
                x = x * 6364136223846793005L + 1442695040888963407L
                sb += (33 + Math.floorMod(x >>> 17, 94L).toInt).toChar
              }
              sb.toString
          }
          (id, text)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .toDF("doc_id", "text")
  }

  // ---------------------------------------------------------------------
  // Supervised linear quality classifier (the r16 verdict's #4 item)
  // ---------------------------------------------------------------------

  /** Logistic regression over [[featureHash]] features — the
    * fastText-style SUPERVISED quality classifier real curation
    * pipelines train on labeled data (the self-supervised
    * [[langIdNgram]] NB's missing twin). Full-batch gradient descent,
    * every round a flat relational step with decimal-exact folds (the
    * PageRank/unigram round convention) so the ORACLE replays the
    * entire training via unrolled CTEs:
    *
    *   - features: hashed token counts (the q136 md5-bucket formula)
    *     plus a bias feature at index −1 with count 1
    *   - z_i = Σ_b w_b·x_ib as DECIMAL(26,12) (w carried at 12 dp, so
    *     every product is exact; the sum is order-free)
    *   - p_i = round(σ(z_i), 6) — the ONE transcendental, rounded
    *     once (the round-then-fold discipline of the entropy/EM
    *     oracles); residuals and gradients fold the ROUNDED p, so both
    *     engines sum identical decimals
    *   - w_b ← round(w_b − lr·grad_b/N, 12), N the doc count
    *     (control-plane scalar, the PageRank convention)
    *
    * Untouched buckets keep weight 0 forever (their gradient is 0), so
    * the weight frame's cardinality is the OBSERVED feature set —
    * bounded by min(dims+1, vocabulary), never corpus size.
    *
    * Returns (feature_ix, w) after `rounds` updates; `feature_ix = -1`
    * is the bias. 100 TB shape: per round, one feature-keyed join +
    * one doc-keyed aggregate + one feature-keyed aggregate — all
    * map-side-combining keyed exchanges over frames bounded by corpus
    * tokens; rounds are bounded and plans stay flat behind
    * [[graft.Materialize]]. */
  def logisticTrainHashed(docs: DataFrame, labelCol: String, dims: Int,
                          rounds: Int = 5, lr: Double = 1.0,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds out of range")
    val feats = featureHash(docs, dims, idCol, textCol)
      .unionByName(docs.select(col(idCol).as("doc_id"),
        lit(-1L).as("feature_ix"), lit(1L).as("cnt")))
      .materialized
    val labels = docs.select(col(idCol).as("doc_id"),
      col(labelCol).cast("long").as("_y")).materialized
    val n = labels.count() // control-plane scalar (the PageRank convention)
    var w = feats.select(col("feature_ix")).distinct()
      .select(col("feature_ix"), lit(0.0).as("w")).materialized
    for (_ <- 0 until rounds) {
      val z = feats.join(w, Seq("feature_ix"))
        .select(col("doc_id"),
          // (18,12)×(12,0) → (31,12): stays inside Spark's 38-digit
          // cap, so the product is EXACT (a (22,12)×long form would
          // overflow precision and silently shed scale); 12 digits of
          // count headroom — a (6,0) cast would overflow on a
          // million-token bucket (the r17 review finding)
          (col("w").cast("decimal(18,12)") * col("cnt").cast("decimal(12,0)"))
            .cast("decimal(32,12)").as("_t"))
        .groupBy(col("doc_id")).agg(sum(col("_t")).as("_z"))
      val resid = z.join(labels, Seq("doc_id"))
        .select(col("doc_id"),
          (round(lit(1.0) / (lit(1.0) + exp(-col("_z").cast("double"))), 6)
            .cast("decimal(8,6)") - col("_y"))
            // |p − y| ≤ 1: clamp the widened subtraction type back so
            // the gradient product stays inside the 38-digit cap
            .cast("decimal(8,6)").as("_r"))
      val grad = feats.join(resid, Seq("doc_id"))
        .select(col("feature_ix"),
          (col("_r") * col("cnt").cast("decimal(12,0)"))
            .cast("decimal(30,6)").as("_g"))
        .groupBy(col("feature_ix")).agg(sum(col("_g")).as("_g"))
      w = w.join(grad, Seq("feature_ix"), "left")
        .select(col("feature_ix"),
          round(col("w") - lit(lr) *
            coalesce(col("_g").cast("double"), lit(0.0)) / lit(n.toDouble),
            12).as("w"))
        .materialized
    }
    w
  }

  /** Per-doc scores under a trained weight frame: p (6 dp, the same
    * round-once sigmoid as training) and the 0.5-threshold prediction. */
  def logisticScore(docs: DataFrame, weights: DataFrame, dims: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val feats = featureHash(docs, dims, idCol, textCol)
      .unionByName(docs.select(col(idCol).as("doc_id"),
        lit(-1L).as("feature_ix"), lit(1L).as("cnt")))
    val z = feats.join(weights, Seq("feature_ix"))
      .select(col("doc_id"),
        (col("w").cast("decimal(18,12)") * col("cnt").cast("decimal(12,0)"))
          .cast("decimal(32,12)").as("_t"))
      .groupBy(col("doc_id")).agg(sum(col("_t")).as("_z"))
    z.select(col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-col("_z").cast("double"))), 6)
        .as("p"))
      .withColumn("lr_pred", (col("p") >= 0.5).cast("long"))
  }

  /** The trained classifier against the HEURISTIC quality gate — the
    * q257 three-way shape: one row per (label, lr_pred, gate_pred)
    * cell with counts, localizing exactly where the supervised model
    * and the hand-written gate disagree. `gate_pred` =
    * [[qualityScore]] ≥ `gateThreshold`. */
  def logisticGateAudit(docs: DataFrame, labelCol: String, dims: Int,
                        rounds: Int = 5, lr: Double = 1.0,
                        gateThreshold: Int = 50,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val w = logisticTrainHashed(docs, labelCol, dims, rounds, lr,
      idCol, textCol)
    val scored = logisticScore(docs, w, dims, idCol, textCol)
    docs.select(col(idCol).as("doc_id"),
        col(labelCol).cast("long").as("label"),
        (qualityScore(col(textCol), length(col(textCol)))
          >= gateThreshold).cast("long").as("gate_pred"))
      .join(scored, Seq("doc_id"))
      .groupBy(col("label"), col("lr_pred"), col("gate_pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Labeled-quality fixture: mode = floorMod(id, 4), label = good on
    * even ids — (0) good prose the gate also passes, (1) symbol-heavy
    * spam the gate also fails, (2) good-but-SHORT text the gate fails
    * (supervised model can still learn its vocabulary), (3)
    * stopword-rich lottery spam the gate PASSES (clean characters,
    * right length — the hand-written gate's blind spot a supervised
    * classifier exists to catch). All texts closed-form id arithmetic. */
  def synthQualityDocs(ids: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    Spread.toCores(ids).select(id.cast("long").as("doc_id"),
      (lit(1L) - pmod(id, lit(2)).cast("long")).as("label"),
      when(pmod(id, lit(4)) === 0, concat(lit(
        "The quick survey of the annual harvest and the trade records " +
          "in the town of d"), id, lit(
        " shows steady growth and fair prices in the region for the year.")))
        .when(pmod(id, lit(4)) === 1, concat(lit(
          "BUY NOW!!! $$$ FREE prize"), id, lit(
          " !!! click click buy buy $$$ win win !!!")))
        .when(pmod(id, lit(4)) === 2, concat(lit(
          "A fine essay about the sea d"), id, lit(".")))
        .otherwise(concat(lit(
          "The lucky winner of the lottery and the prize draw in the " +
            "bonus round of the day may claim the reward of the week " +
            "in the town of d"), id, lit(" now.")))
        .as("text"))
  }
}
