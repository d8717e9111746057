package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text / LLM-data-pipeline operator set (SURVEY.md §2.3 q21, q22, x02).
  *
  * The reference's only dedup is the target PK rejecting replayed batches
  * (`init/postgres-2/init.sql:2`, SURVEY §2.1.6); this file makes content
  * dedup explicit and adds the near-dup detection a training-data pipeline
  * needs at 100 TB.
  *
  * Scale notes (100 TB):
  *  - q21: dedup is one shuffle on the content fingerprint; the fingerprint
  *    is computed map-side so only (fp, doc_id) widths shuffle, not text.
  *  - q22: explode → map-side partial count → shuffle carries one row per
  *    (mapper, word), bounded by vocabulary, not corpus size.
  *  - x02 minhash LSH: never all-pairs. Candidates come from a self-join on
  *    (band, band-signature) buckets — cost is Σ bucket² which LSH keeps
  *    small for any non-degenerate corpus; exact Jaccard verification runs
  *    only on candidates. Run exact dedup (q21) FIRST at scale: identical
  *    documents form k² bucket cliques that verification cannot prune.
  */
object Text {

  /** Let-binding via a single-element transform: binds `e` to a lambda
    * variable so the references inside `f` read an evaluated value. Without
    * this, Catalyst inlines projected expressions at every use site and
    * interpreted lambdas get no common-subexpression elimination — an
    * expression referenced per array element is re-evaluated per element.
    */
  def bound(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Distinct word-n-gram shingles of lowercased `text`, as an array column.
    * Pure higher-order functions — no UDF. The word array is let-bound:
    * with a bare reference, each of the ~2·|words| element accesses would
    * re-run the split, making shingling O(|words|²) per document (measured
    * 4× slower over the corpus).
    */
  def shingles(text: Column, n: Int): Column =
    if (n == 1) array_distinct(split(lower(text), " "))
    else array_distinct(ngrams(text, n))

  /** Multiplicity-preserving word n-grams of lowercased `text` (shingles
    * without the distinct — q35's repetition ratio needs the duplicates).
    * Same let-binding discipline as [[shingles]]: an unbound word array
    * would re-run the split per element access, O(|words|²) per document.
    */
  def ngrams(text: Column, n: Int): Column =
    bound(split(lower(text), " ")) { words =>
      when(size(words) < n, array().cast("array<string>"))
        .otherwise(
          transform(sequence(lit(0), size(words) - n),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(words, i + j + 1)): _*)))
    }

  /** Kernel-backed forms of [[shingles]]/[[ngrams]]: ONE native pass in
    * graft.ext.WordNgrams instead of the interpreted split → sequence →
    * transform → concat_ws chain (a lambda dispatch per produced shingle;
    * the HOF forms above are retained as the executable spec and pinned
    * equal on random unicode in PropertiesSpec). Callers must register the
    * kernel first — every op entry point calls
    * `GraftFunctions.ensureWordNgrams(session)`.
    */
  private[graft] def nativeShingles(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n), lit(true))

  private[graft] def nativeNgrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n), lit(false))

  /** Sorted-distinct-word fingerprint — normalized content identity. */
  def wordSetFingerprint(text: Column): Column =
    concat_ws(" ", array_sort(array_distinct(split(lower(text), " "))))

  /** q21_dedup_exact: exact dedup keep-first (lowest doc_id) on the
    * normalized word-set fingerprint — the PK-dedup of the reference made an
    * explicit operator (row_number over the content key).
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(asc("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("fp", wordSetFingerprint(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val q21Sql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')
      |        ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** q56_tfidf: TF-IDF term scoring — the retrieval/feature-weighting
    * staple: for every document, its top-3 terms by tf × idf (ties by
    * term asc). idf is the RATIO form N/df, not log((N+1)/(df+1)):
    * transcendental log is not correctly-rounded and differs across
    * libm implementations, while tf = cnt/len and idf = N/df are each
    * ONE IEEE division of exact integers, so the score chain is
    * bit-identical cross-engine and the query stays oracle-gated (the
    * ranking it induces is the same monotone transform).
    *
    * Scale shape: one (doc_id, term) count aggregate over the exploded
    * token stream; document frequencies are a vocab-bounded aggregate
    * (Zipf ⇒ far below corpus size) that re-attaches by BROADCAST join;
    * the top-3 window partitions on high-cardinality doc_id. The N
    * scalar joins as a literal via a 1-row crossJoin-free subquery —
    * count is computed once, not per row.
    */
  def q56(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val perDoc = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val dfreq = perDoc.groupBy("term")
      .agg(count(lit(1)).as("df")) // one row per (doc, term) => doc freq
    val n = lit(docs.count()) // batch-constant scalar, computed once
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), asc("term"))
    perDoc
      .join(docLen, "doc_id")
      .join(broadcast(dfreq), "term")
      .withColumn("score",
        (col("cnt").cast("double") / col("len").cast("double")) *
          (n.cast("double") / col("df").cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("int").as("rk"), col("term"),
        col("cnt").cast("int").as("cnt"), col("df").cast("int").as("df"),
        col("score"))
      .orderBy("doc_id", "rk")
  }

  val q56Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |toks2 AS (SELECT * FROM toks WHERE term <> ''),
      |per_doc AS (
      |  SELECT doc_id, term, count(*) AS cnt FROM toks2 GROUP BY doc_id, term),
      |doc_len AS (
      |  SELECT doc_id, count(*) AS len FROM toks2 GROUP BY doc_id),
      |dfreq AS (
      |  SELECT term, count(*) AS df FROM per_doc GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term,
      |       CAST(cnt AS INTEGER) AS cnt, CAST(df AS INTEGER) AS df, score
      |FROM (
      |  SELECT p.doc_id, p.term, p.cnt, f.df,
      |         (CAST(p.cnt AS DOUBLE) / CAST(l.len AS DOUBLE)) *
      |           (CAST(n.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)) AS score,
      |         row_number() OVER (PARTITION BY p.doc_id
      |                            ORDER BY (CAST(p.cnt AS DOUBLE) / CAST(l.len AS DOUBLE)) *
      |                                     (CAST(n.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)) DESC,
      |                            p.term ASC) AS rk
      |  FROM per_doc p
      |  JOIN doc_len l ON p.doc_id = l.doc_id
      |  JOIN dfreq f ON p.term = f.term
      |  CROSS JOIN n)
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** q57_inverted_index: SEGMENTED inverted-index construction — the
    * retrieval-side dual of q56: (term, doc-segment) → ordered posting
    * list of doc:position entries. Postings are built per SEGMENT
    * (doc_id div 1000), the way real indexes shard them, so the
    * aggregation state per group is bounded by segment size — an
    * unsegmented stop-word posting list would be corpus-sized at 100 TB.
    * Entries are zero-padded (`00000042:000007`) so the lexicographic
    * sort both engines apply IS the numeric (doc, pos) order, and the
    * serialized list is driver-hashable (q31's precedent; ':'/',' cannot
    * occur inside the padded digits). The pad widths are a CONTRACT, not
    * a hope: `lpad` silently TRUNCATES values wider than the pad (both
    * engines), which would corrupt posting identity and break the
    * lexicographic-is-numeric invariant — so overflow raises instead
    * ([[padOrFail]]; ADVICE r6). doc_id < 1e8 and pos < 1e6 hold with
    * huge headroom at driver SFs; a corpus that outgrows them bumps the
    * widths in ONE place (both sides of the oracle) rather than
    * corrupting silently.
    */
  def q57(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .select(col("term"), expr("doc_id div 1000").as("seg"),
        concat(padOrFail(col("doc_id"), 8, "doc_id"), lit(":"),
          padOrFail(col("pos"), 6, "pos")).as("s"))
      .groupBy("term", "seg")
      .agg(
        concat_ws(",", sort_array(collect_list(col("s")))).as("postings"),
        count(lit(1)).as("n_postings"))
      .orderBy("term", "seg")

  /** Zero-pad `c` to exactly `width` digits, RAISING on overflow instead
    * of inheriting lpad's silent truncation — a value wider than the pad
    * would corrupt posting identity undetectably (ADVICE r6, q57).
    */
  private[graft] def padOrFail(c: Column, width: Int, what: String): Column = {
    val s = c.cast("string")
    when(length(s) > width, raise_error(concat(
        lit(s"$what overflows the $width-digit posting pad: "), s)))
      .otherwise(lpad(s, width, "0"))
  }

  val q57Sql: String =
    """SELECT term, seg,
      |       array_to_string(list_sort(list(s)), ',') AS postings,
      |       CAST(count(*) AS BIGINT) AS n_postings
      |FROM (
      |  SELECT term, doc_id // 1000 AS seg,
      |         lpad(CAST(doc_id AS VARCHAR), 8, '0') || ':' || lpad(CAST(pos AS VARCHAR), 6, '0') AS s
      |  FROM (
      |    SELECT doc_id, unnest(w) AS term, unnest(range(len(w))) AS pos
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
      |  WHERE term <> '')
      |GROUP BY term, seg
      |ORDER BY term, seg""".stripMargin

  /** q58_phrase_search: exact PHRASE matching ("table hash") by joining
    * the two terms' POSTING streams at adjacent positions — the standard
    * IR technique q57's index exists for: only the queried terms'
    * occurrences survive past tokenization (the isin filter drops every
    * other token before any join; against a MATERIALIZED q57 index the
    * whole tokenize+filter collapses to two posting lookups), and
    * adjacency is an equi-join on (doc, pos+1) — a hash join, never a
    * scan of other terms' pairs.
    * The oracle finds the same occurrences by DIRECT bigram scan,
    * so the postings-join technique is verified against the definition
    * rather than against itself.
    */
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val Seq(first, second) = Seq("table", "hash")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
      .filter(col("term").isin(first, second))
    val a = toks.filter(col("term") === first)
      .select(col("doc_id"), col("pos"))
    val b = toks.filter(col("term") === second)
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    a.join(b, col("doc_id") === col("d2") && col("p2") === col("pos") + 1)
      .select(col("doc_id"), col("pos").cast("int").as("pos"))
      .orderBy("doc_id", "pos")
  }

  val q58Sql: String =
    """SELECT doc_id, CAST(i AS INTEGER) AS pos FROM (
      |  SELECT doc_id,
      |         unnest(range(len(w) - 1)) AS i,
      |         unnest(list_transform(range(1, len(w)),
      |           j -> w[j] = 'table' AND w[j+1] = 'hash')) AS hit
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
      |  WHERE len(w) > 1)
      |WHERE hit
      |ORDER BY doc_id, pos""".stripMargin

  /** q22_text_tokens: tokenize + explode + corpus word frequency. */
  def q22(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("word"))

  val q22Sql: String =
    """SELECT word, CAST(count(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY freq DESC, word ASC""".stripMargin

  /** q61_bm25: BM25 ranking of a two-term query ("table hash") — the
    * scoring step q56/q57/q58's retrieval family exists for: per (doc,
    * term), idf × (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)) with
    * k1 = 1.2, b = 0.75, summed over the query terms, top-20 docs.
    * idf is the RATIO form (N − df + 0.5)/(df + 0.5), not the usual log
    * of it — the same monotone-ranking trade q56 makes: log is not
    * correctly-rounded across libms, while this chain is only IEEE
    * divisions/multiplications of exact integers (and ±0.5/0.25/0.75,
    * all exactly representable), so scores are bit-identical cross-engine
    * and the query stays oracle-gated. The two per-doc term scores sum in
    * ONE addition (FP addition is commutative — no order hazard).
    *
    * Scale shape: dl (non-empty token count) is a per-row map-side array
    * op — the corpus never shuffles for it; the (N, avgdl) batch-constant
    * scalars come from one 1-row aggregate computed on the driver and
    * inlined as literals (q56's N precedent — a crossJoin attach would
    * plan a nested loop); only the QUERY TERMS' occurrences
    * survive the isin filter into the (doc, term) count shuffle (q58's
    * posting-lookup shape — against a materialized index this collapses
    * to two lookups); df re-attaches by broadcast (2 rows); the top-20 is
    * a TakeOrdered heap, never a global sort.
    */
  def q61(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir), Seq("table", "hash"))

  /** q61b_bm25_multi: the N-term form of q61 on a three-term query
    * ("table hash merge") — the generalization r6's review asked for: the
    * scoring, filters, and broadcasts were already term-count-agnostic,
    * and the per-doc sum is the one piece that is NOT order-safe past two
    * terms (see [[bm25]]'s fold). Own oracle, same plan shape.
    */
  def q61b(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir), Seq("table", "hash", "merge"))

  /** Generic N-term BM25 behind [[q61]]/[[q61b]]: per (doc, term),
    * idf × (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl)), summed over the
    * query terms, top-`topN` docs. See q61's doc for the ratio-idf trade
    * and the scale shape (map-side dl, driver-inlined (N, avgdl), isin
    * posting-lookup, broadcast df, TakeOrdered head).
    *
    * The per-doc sum is a FIXED-ORDER fold, not a plain `sum`: with three
    * or more terms, aggregate-sum order depends on partitioning ((a+b)+c ≠
    * a+(b+c) in IEEE), so each doc's term scores are collected, sorted by
    * term, and folded left-to-right — deterministic at any parallelism,
    * restated verbatim by the oracle. For one or two terms the fold is
    * bitwise-equal to any-order summation (0.0+a = a for positive scores,
    * a+b commutes bitwise), which is why q61's original two-term oracle
    * is unchanged.
    */
  def bm25(
      documents: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topN: Int = 20): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val docs = documents
      .select(col("doc_id"),
        split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), col("w"),
        size(filter(col("w"), t => t =!= "")).as("dl"))
    // batch-constant scalars, computed ONCE on the driver and inlined as
    // literals (q56's N precedent) — one tiny 1-row job, not a per-row
    // join; a crossJoin attach would plan the banned nested loop
    val statsRow = docs.agg(
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"),
      count(lit(1)).as("n")).head()
    val avgdl = lit(statsRow.getDouble(0))
    val n = lit(statsRow.getLong(1))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term", "dl")
      .agg(count(lit(1)).as("tf"))
    bm25ScoreTf(tf, n, avgdl, k1, b, topN)
  }

  /** The BM25 scoring chain over a (doc_id, term, dl, tf) frame — shared
    * by [[bm25]] (tf computed from the corpus per call) and
    * [[graft.ops.Inverted.invSearch]] (tf read from the materialized
    * index), so the two paths cannot drift on the ratio-idf arithmetic
    * or the term-sorted fold. df is derived from the tf frame itself
    * (one row per (doc, term) ⇒ count per term IS document frequency).
    */
  private[ops] def bm25ScoreTf(
      tf: DataFrame,
      n: Column,
      avgdl: Column,
      k1: Double,
      b: Double,
      topN: Int): DataFrame = {
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nD = n.cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    tf.join(broadcast(dfreq), "term")
      .withColumn("s",
        (nD - dfD + lit(0.5)) / (dfD + lit(0.5)) * (tfD * lit(k1 + 1.0)) /
          (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dlD / avgdl))))
      .groupBy("doc_id")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("term"), col("s")))),
          x => x.getField("s")),
        lit(0.0), (acc, v) => acc + v).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topN)
  }

  val q61Sql: String =
    """WITH d AS (
      |  SELECT doc_id, w,
      |         len(list_filter(w, t -> t <> '')) AS dl
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
      |s AS (
      |  SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
      |         count(*) AS n
      |  FROM d),
      |tf AS (
      |  SELECT doc_id, term, dl, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
      |  WHERE term IN ('table', 'hash')
      |  GROUP BY doc_id, term, dl),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id, sum(sc) AS score FROM (
      |  SELECT tf.doc_id,
      |         (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)
      |           * (CAST(tf.tf AS DOUBLE) * 2.2)
      |           / (CAST(tf.tf AS DOUBLE)
      |              + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))) AS sc
      |  FROM tf JOIN dfreq f ON tf.term = f.term CROSS JOIN s)
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  /** q61b's restatement: the same chain on three terms, with the per-doc
    * sum as the SAME term-sorted left-to-right fold the Spark side runs
    * (`list(sc ORDER BY term)` + 0-prepended `list_reduce`) — a plain
    * SQL `sum()` would be order-unspecified at 3+ terms.
    */
  val q61bSql: String =
    """WITH d AS (
      |  SELECT doc_id, w,
      |         len(list_filter(w, t -> t <> '')) AS dl
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
      |s AS (
      |  SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
      |         count(*) AS n
      |  FROM d),
      |tf AS (
      |  SELECT doc_id, term, dl, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM d)
      |  WHERE term IN ('table', 'hash', 'merge')
      |  GROUP BY doc_id, term, dl),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id,
      |       list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY term ASC)),
      |         (x, y) -> x + y) AS score
      |FROM (
      |  SELECT tf.doc_id, tf.term,
      |         (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)
      |           * (CAST(tf.tf AS DOUBLE) * 2.2)
      |           / (CAST(tf.tf AS DOUBLE)
      |              + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))) AS sc
      |  FROM tf JOIN dfreq f ON tf.term = f.term CROSS JOIN s)
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  // ---- x14: heavy-hitter n-grams via sample-candidates + exact verify ----

  /** Top-k word-n-gram counts via the sample-then-verify heavy-hitter
    * pattern — EXACT results with bounded shuffles when the n-gram TYPE
    * space outgrows what a vocab-keyed aggregate can hold.
    *
    * q22's exact word counts are the right plan for word vocabularies
    * (Zipf-bounded far below the corpus), but n-gram types are
    * corpus-scale at 100 TB: the partial-agg hashmaps overflow and the
    * shuffle carries the whole type space. Two bounded passes instead:
    *
    *   1. CANDIDATES: a deterministic occurrence-level sample —
    *      `xxhash64(doc, pos, gram) % sampleMod == 0`, per OCCURRENCE so a
    *      heavy type cannot be hashed out wholesale — is counted per type;
    *      types with ≥ `cMin` sampled hits survive. The shuffle carries
    *      ~1/sampleMod of the stream, and with cMin=2 every singleton type
    *      (the Zipf tail mass) dies map-side — it cannot yield 2 samples.
    *   2. VERIFY: exact occurrence count of the candidate types only
    *      (broadcast semi join against the full stream — a small key set by
    *      construction), deterministic top-k (freq desc, gram asc).
    *
    * REGIME: the guarantee is statistical — a true top-k type is missed
    * only if fewer than cMin of its occurrences sample, P ≈ Binomial tail,
    * negligible once boundary counts ≫ sampleMod·cMin (under the defaults
    * a count-64 type is missed with p<1e-8). That is precisely the
    * heavy-hitter regime this operator exists for; on a small or FLAT
    * corpus (the driver fixture's trigram counts peak in the single
    * digits — no heavy hitters exist there) use the exact q22-shaped
    * aggregate instead, which is the right plan whenever the type space
    * fits a hash aggregate. Deliberately NOT a declared oracle query for
    * that reason; TextSpec pins sampled == exact on a planted-Zipf corpus
    * and pins the candidate-set reduction that is the operator's point.
    */
  def ngramTopK(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      k: Int = 20,
      sampleMod: Int = 4,
      cMin: Int = 2): DataFrame = {
    val occ = ngramOccurrences(docs, idCol, textCol, n)
    val cand = ngramCandidates(docs, idCol, textCol, n, sampleMod, cMin)
    occ.join(broadcast(cand), Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("gram"))
      .limit(k)
  }

  private def ngramOccurrences(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.ext.GraftFunctions.ensureWordNgrams(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
      posexplode(nativeNgrams(col(textCol), n)).as(Seq("pos", "gram")))
  }

  /** The candidate stage of [[ngramTopK]], exposed so tests can pin the
    * reduction itself: types with ≥ cMin deterministically-sampled
    * occurrences — the singleton tail dies before the shuffle.
    */
  private[graft] def ngramCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, sampleMod: Int, cMin: Int): DataFrame =
    ngramOccurrences(docs, idCol, textCol, n)
      .filter(pmod(xxhash64(col("doc_id"), col("pos"), col("gram")),
        lit(sampleMod)) === 0)
      .groupBy("gram").agg(count(lit(1)).as("s_cnt"))
      .filter(col("s_cnt") >= cMin)
      .select("gram")

  // ---- x02: MinHash + banded LSH near-duplicate detection ----

  /** Near-duplicate pairs via minhash + banded LSH + exact verification.
    *
    * Pipeline (all native column expressions, ONE wide shuffle total):
    *   1. shingle: distinct word-n-grams per doc, kept as an array column
    *      (map-side);
    *   2. signature: `numHashes` independent hash functions
    *      h_i(s) = xxhash64(i, s), each `array_min(transform(...))` — a pure
    *      per-row projection, NO groupBy shuffle: signature computation is
    *      embarrassingly parallel, exactly what you want on 100 TB;
    *   3. banding: signature split into `bands` bands of `rows` hashes;
    *      each band hashed to one bucket key; explode to (band, sig, doc);
    *   4. candidates: self-join on (band, sig) with doc_a < doc_b — the one
    *      shuffle, and the LSH step that replaces the O(n²) cross join;
    *   5. verify: exact Jaccard per candidate via `array_intersect` of the
    *      two shingle arrays — two broadcast-scale joins back to the
    *      (id, shingles) projection, no token explosion.
    *
    * Detection probability for a pair at Jaccard J is 1-(1-J^rows)^bands —
    * 0.9998 at J=0.9 with the 8×4 default. Run exact dedup (q21) first at
    * scale: identical documents form k² bucket cliques that verification
    * cannot prune.
    *
    * @param docs (id, text) input
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    // materialize the shingle arrays before the signature/filter consumers
    // (projection collapsing would re-run shingling per reference).
    // Shingle-less docs (shorter than the shingle width) are excluded:
    // their all-null signatures would otherwise all collide into one
    // bucket and emit NaN-jaccard pairs (0/0, and Spark sorts NaN above
    // every threshold) — route such docs through exact dedup (q21) instead.
    graft.ext.GraftFunctions.ensureWordNgrams(docs.sparkSession)
    val sh = docs.select(col(idCol).as("doc_id"),
      nativeShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(col("doc_id"))

    // the numHashes minhash minima and the per-band folds run in ONE pass
    // of the codegen'd graft.ext.MinHashBands kernel (hash-exact with the
    // interpreted array_min(transform(...)) formulation — [[hofBandSigs]],
    // kept for the parity test — so the candidate set cannot shift).
    // Second explicit exchange after the signature projection: every
    // consumer below — both sides of the bucket self-join and both
    // verification joins — hangs off the SAME shuffle subtree, so
    // ReuseExchange computes signatures exactly once instead of once per
    // plan branch. Two small exchanges of (id, arrays) beat recomputing
    // either stage per branch; at 100 TB you would persist the signature
    // table outright.
    graft.ext.GraftFunctions.ensureMinHashBands(docs.sparkSession)
    val sig = sh.select(col("doc_id"), col("sh"),
        call_function("minhash_bands",
          col("sh"), lit(numHashes), lit(bands)).as("bsig"))
      .repartition(col("doc_id"))

    val buckets = sig
      .select(col("doc_id"), posexplode(col("bsig")).as(Seq("band", "sig")))

    val cand = buckets.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()

    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** x02_minhash_dedup: near-dup document pairs over `documents` (bigram
    * shingles, J >= 0.9). Oracle-checked against DuckDB computing the SAME
    * definition by brute force (all-pairs list_intersect — fine at oracle
    * scale, exactly what LSH exists to avoid at engine scale): candidate
    * recall is 1.0 on this corpus (banding P(miss | J=0.9) ≈ 2e-4 per
    * pair), and exact verification makes every emitted value deterministic.
    */
  def x02(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(spark, dir))
      .orderBy("doc_a", "doc_b")

  /** Brute-force restatement of [[x02]]'s definition for the DuckDB oracle:
    * same bigram shingles, same exact Jaccard, same threshold.
    */
  val x02Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |           / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** INCREMENTAL near-dup detection: every (delta, corpus) pair at
    * Jaccard ≥ `threshold` — the nightly-ingest shape. [[minhashPairs]]
    * answers "which documents in this corpus duplicate each other";
    * production pipelines mostly ask the ASYMMETRIC question "which of
    * today's arrivals duplicate something we already have", and answering
    * it with the self-join over corpus ∪ delta re-pays the corpus×corpus
    * work every night. Here the corpus side's banded buckets are computed
    * once per call and the delta probes them: the bucket join's output is
    * |delta|-proportional, corpus-internal pairs never form. The
    * PERSISTED form of that once — the standing index the q71
    * materialized-IVF discipline prescribes — is [[lshBuild]]/
    * [[lshProbe]]/[[lshAppend]]/[[lshCompact]] below (driver-gated as
    * x21b); use this in-memory form for one-shot jobs, the index for
    * recurring ingest.
    *
    * Same recall law as the self-join (1-(1-J^rows)^bands per pair), same
    * exact-Jaccard verification of candidates, same shingle-less-doc
    * exclusion. Delta-INTERNAL duplicates are deliberately out of scope —
    * run [[minhashPairs]] over the (small) delta beside this.
    *
    * @return (delta_id, corpus_id, jaccard), all crossing pairs exact
    */
  def minhashDeltaPairs(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    graft.ext.GraftFunctions.ensureWordNgrams(corpus.sparkSession)
    graft.ext.GraftFunctions.ensureMinHashBands(corpus.sparkSession)
    // one signature pipeline per side, each hanging off its own exchange
    // so ReuseExchange computes it once across the bucket and verify
    // branches (minhashPairs' discipline, per side)
    def sigOf(docs: DataFrame): DataFrame =
      docs.select(col(idCol).as("doc_id"),
          nativeShingles(col(textCol), shingleN).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"),
          call_function("minhash_bands",
            col("sh"), lit(numHashes), lit(bands)).as("bsig"))
        .repartition(col("doc_id"))
    val cSig = sigOf(corpus)
    val dSig = sigOf(delta)
    def bucketsOf(sig: DataFrame, as: String): DataFrame = sig
      .select(col("doc_id").as(as),
        posexplode(col("bsig")).as(Seq("band", "sig")))
    val cand = bucketsOf(dSig, "delta_id")
      .join(bucketsOf(cSig, "corpus_id"), Seq("band", "sig"))
      .select("delta_id", "corpus_id")
      .distinct()
    cand
      .join(dSig.select(col("doc_id").as("delta_id"), col("sh").as("sh_d")),
        Seq("delta_id"))
      .join(cSig.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
        Seq("corpus_id"))
      .select(col("delta_id"), col("corpus_id"),
        size(array_intersect(col("sh_d"), col("sh_c"))).as("inter"),
        size(col("sh_d")).as("n_d"), size(col("sh_c")).as("n_c"))
      .select(col("delta_id"), col("corpus_id"),
        (col("inter").cast("double") /
          (col("n_d") + col("n_c") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** x21_delta_dedup: the incremental form over the fixture — delta =
    * `doc_id % 5 = 4` (20% arrivals), corpus = the rest. Oracle-checked
    * by brute cross-side Jaccard (x02's argument: candidate recall 1.0 on
    * this corpus, exact verification makes every value deterministic).
    * TextSpec additionally pins x21 ≡ the crossing subset of x02's
    * self-join pairs — the asymmetric path cannot silently lose (or
    * invent) a pair the symmetric detector sees.
    */
  def x21(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    minhashDeltaPairs(
      docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4),
      docs.filter(pmod(col("doc_id"), lit(5L)) === 4))
      .orderBy("delta_id", "corpus_id")
  }

  /** Brute-force cross-side restatement for the DuckDB oracle: same
    * bigram shingles and threshold as [[x02Sql]], split by the id rule.
    */
  val x21Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents)
      |SELECT delta_id, corpus_id, jaccard FROM (
      |  SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
      |         CAST(len(list_intersect(d.s, c.s)) AS DOUBLE)
      |           / CAST(len(d.s) + len(c.s) - len(list_intersect(d.s, c.s)) AS DOUBLE) AS jaccard
      |  FROM sh d JOIN sh c ON d.doc_id % 5 = 4 AND c.doc_id % 5 <> 4)
      |WHERE jaccard >= 0.9
      |ORDER BY delta_id, corpus_id""".stripMargin

  // ---- x21b: the MATERIALIZED text-LSH index ----

  /** The per-doc signature projection shared verbatim by [[lshBuild]],
    * [[lshAppend]] and [[lshProbe]]: (doc_id, sh, bsig) under ONE
    * parameter set, so every generation of the index — and every probe
    * against it — hashes identically (the IVF frozen-quantizer
    * discipline). Shingle-less docs are excluded for [[minhashPairs]]'s
    * reason: their all-null signatures would collide into one bucket and
    * emit NaN-jaccard pairs; route them through exact dedup (q21).
    */
  private def lshSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    graft.ext.GraftFunctions.ensureWordNgrams(docs.sparkSession)
    graft.ext.GraftFunctions.ensureMinHashBands(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        nativeShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        call_function("minhash_bands",
          col("sh"), lit(numHashes), lit(bands)).as("bsig"))
  }

  /** Build a MATERIALIZED banded-minhash LSH index under `indexDir` — the
    * standing-index twin of [[graft.ops.Vector.ivfBuild]] that the
    * [[minhashDeltaPairs]] scaladoc promises: the corpus-sized COMPUTE of
    * incremental dedup (text parse, shingling, 32-way minhash, bucket
    * layout) runs ONCE here; every nightly [[lshProbe]] afterwards
    * re-signs only the delta and scans the prepared index (see lshProbe's
    * cost-shape note for what stays corpus-sized and what doesn't), and
    * every [[lshAppend]] extends the index for delta-only work instead of
    * the rebuild a no-index nightly implicitly pays.
    *
    * Layout (every table generation-committed through
    * [[graft.sources.GenCommit]] — see its scaladoc for why a plain
    * two-table append has an unfixable half-applied crash window):
    *  - `indexDir/meta`: one row (shingle_n, num_hashes, bands,
    *    sub_buckets, doc_buckets) — the FROZEN hash parameters. Probes
    *    and appends read them from the index rather than trusting the
    *    caller, so a parameter drift between build and probe (which
    *    would silently shift every bucket) is structurally impossible.
    *  - `indexDir/docs/gen=<k>/db=<d>`: (doc_id, sh) — the shingle
    *    arrays, read to exact-verify candidates, DIRECTORY-PARTITIONED
    *    by `db = crc32(doc_id) % doc_buckets` so a small probe's verify
    *    read prunes to the sub-buckets its candidates live in (see
    *    [[lshProbe]]'s cost-shape note).
    *  - `indexDir/buckets/gen=<k>/band=<b>/sb=<s>`: (sig, doc_id)
    *    DIRECTORY-PARTITIONED by band, then by `sb = crc32(sig) %
    *    sub_buckets` (values carry "b"/"s"/"d" prefixes so
    *    partition-column inference reads them back as strings —
    *    ivfBuild's trick; crc32, not a JVM hash, so the layout's meaning
    *    survives engine upgrades). Band partitioning is the IVF-nprobe
    *    analog for LSH: a recall/cost-tuned probe (`probeBands` <
    *    `bands`) reads probeBands/bands of the index with the recall law
    *    1-(1-J^rows)^probeBands still exact. Sub-bucket partitioning is
    *    the delta-proportional-READS lever: a probe statically prunes
    *    the bucket scan to the (band, sb) combinations its own
    *    signatures touch — a handful of docs reads a handful of
    *    directories, never the corpus. Compaction ([[lshCompact]])
    *    rewrites one file per (band, sb) into a single generation.
    *  - `indexDir/commits/<k>`: the commit markers; readers admit exactly
    *    the marked generations.
    */
  private val LshTables = Seq("docs", "buckets")

  /** Every table whose gen dirs burn an id — the claim scan includes the
    * tombstone table so a delete generation can never collide with an
    * append's ([[lshDelete]]).
    */
  private val LshScanTables =
    LshTables :+ graft.sources.GenCommit.TombsTable

  /** The bucket table's second partition level: crc32 of the band
    * signature, modulo the index's frozen `sub_buckets`. crc32 (a fixed
    * public checksum) rather than Spark's internal hash so the persisted
    * layout cannot silently change meaning across engine versions.
    */
  private def lshSb(sig: Column, subBuckets: Int): Column =
    concat(lit("s"), pmod(crc32(sig.cast("string").cast("binary")),
      lit(subBuckets.toLong)).cast("string"))

  /** The docs table's partition level: crc32 of the doc id, modulo the
    * frozen `doc_buckets` — same stability argument as [[lshSb]].
    */
  private def lshDb(id: Column, docBuckets: Int): Column =
    concat(lit("d"), pmod(crc32(id.cast("string").cast("binary")),
      lit(docBuckets.toLong)).cast("string"))

  /** Stage and atomically commit one generation of (docs, buckets) —
    * [[graft.sources.GenCommit]]'s protocol. The signature frame is
    * PERSISTED across the two staged writes: two write jobs cannot share
    * an exchange, so without the persist every build/append would
    * shingle and minhash its input twice (review r13 — the previous
    * "ReuseExchange" comment claimed cross-job reuse that does not
    * exist).
    */
  private def lshWriteGeneration(spark: SparkSession, indexDir: String,
      gen: Long, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, subBuckets: Int,
      docBuckets: Int, claimed: Boolean = false,
      token: String = ""): Unit = {
    val sig = lshSignatures(docs, idCol, textCol, shingleN, numHashes,
      bands).persist()
    try lshWriteSig(spark, indexDir, gen, sig, subBuckets, docBuckets,
      claimed, token)
    finally sig.unpersist()
  }

  /** Stage and commit one generation from an ALREADY-PERSISTED signature
    * frame — split out of [[lshWriteGeneration]] so [[lshBuild]] can run
    * its auto-sizing count() against the same persisted pass instead of
    * scanning the corpus twice (review r14). Caller owns the persist
    * lifecycle.
    */
  private def lshWriteSig(spark: SparkSession, indexDir: String,
      gen: Long, sig: DataFrame, subBuckets: Int, docBuckets: Int,
      claimed: Boolean, token: String = ""): Unit = {
    val tk = if (token.nonEmpty) token else graft.sources.GenCommit.newToken()
    // hash-cluster on db so each db value lands in exactly one task
    // (one file per touched db per generation, instead of tasks ×
    // doc_buckets) — HASH, not repartitionByRange, because the range
    // partitioner SAMPLES its input first: that is a whole extra job
    // over the persisted signatures per build/append (review r14; at
    // corpus scale compaction re-sizes files with its one sampled
    // rewrite, where the price is paid once, not nightly)
    sig.select(col("doc_id"), col("sh"))
      .withColumn("db", lshDb(col("doc_id"), docBuckets))
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db")
      .parquet(graft.sources.GenCommit
        .stagePath(indexDir, gen, "docs", tk))
    // one file per touched (band, sb): hash-cluster on the partition
    // columns so each combination lands in exactly one task
    sig.select(col("doc_id"),
        posexplode(col("bsig")).as(Seq("band", "sig")))
      .select(concat(lit("b"), col("band").cast("string")).as("band"),
        col("sig"), col("doc_id"))
      .withColumn("sb", lshSb(col("sig"), subBuckets))
      .repartition(col("band"), col("sb"))
      .write.mode("overwrite").partitionBy("band", "sb")
      .parquet(graft.sources.GenCommit
        .stagePath(indexDir, gen, "buckets", tk))
    graft.sources.GenCommit.publish(spark, indexDir, gen, LshTables, tk,
      claimed)
  }

  /** A table's COMMITTED rows (generation = first partition level,
    * admitted by commit marker — a crashed append's generation is
    * invisible AND, by partition pruning, unread).
    */
  private def lshCommitted(spark: SparkSession, indexDir: String,
      table: String, asOfGen: Option[Long] = None): DataFrame =
    graft.sources.GenCommit.committedTable(spark, indexDir, table, asOfGen)

  /** Smallest power of two ≥ `x`, clamped to [1, cap] — the sub-bucket
    * sizing rule's shape.
    */
  private[graft] def pow2Clamp(x: Long, cap: Int): Int = {
    var p = 1
    while (p < x && p < cap) p <<= 1
    math.min(p, cap)
  }

  def lshBuild(
      docs: DataFrame,
      indexDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8,
      subBuckets: Int = 0,
      docBuckets: Int = 0): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(subBuckets >= 0 && docBuckets >= 0,
      "sub_buckets and doc_buckets must be ≥ 1 (or 0 = size to the corpus)")
    val spark = docs.sparkSession
    // 0 = SIZE THE LAYOUT TO THE CORPUS (then freeze it in meta like
    // every other hash parameter): a fixed sub-bucket count is wrong at
    // both ends — at 60k docs, 8×16 bucket directories are pure
    // metadata overhead per generation (the r14 closing-bench mover),
    // while at 10M docs 16 sub-buckets saturate under any real probe
    // (birthday bound) and 128 is the measured point-probe winner
    // (SCALE.md r14: 7.4 s vs 17 s). The sizing count() runs against
    // the PERSISTED signature frame the staged writes consume anyway,
    // so auto-sizing costs one corpus pass total, not two (review r14):
    // ~64k docs per sub-bucket, ~16k per doc bucket, powers of two.
    val sig = lshSignatures(docs, idCol, textCol, shingleN, numHashes,
      bands).persist()
    try {
      val (sbN, dbN) =
        if (subBuckets > 0 && docBuckets > 0) (subBuckets, docBuckets)
        else {
          val n = sig.count()
          (if (subBuckets > 0) subBuckets else pow2Clamp(n / 65536, 128),
            if (docBuckets > 0) docBuckets else pow2Clamp(n / 16384, 256))
        }
      // a build REPLACES any prior index at this path
      val fs = new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(indexDir), true)
      spark.range(1).select(
          lit(shingleN).as("shingle_n"),
          lit(numHashes).as("num_hashes"),
          lit(bands).as("bands"),
          lit(sbN).as("sub_buckets"),
          lit(dbN).as("doc_buckets"))
        .write.mode("overwrite").parquet(s"$indexDir/meta")
      lshWriteSig(spark, indexDir, 0L, sig, sbN, dbN, claimed = false)
    } finally sig.unpersist()
  }

  private def lshMeta(spark: SparkSession,
      indexDir: String): (Int, Int, Int, Int, Int) = {
    val m = spark.read.parquet(s"$indexDir/meta").head()
    (m.getAs[Int]("shingle_n"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("bands"), m.getAs[Int]("sub_buckets"),
      m.getAs[Int]("doc_buckets"))
  }

  /** Incremental LSH maintenance: sign ONLY the delta under the index's
    * FROZEN stored parameters and commit it as a NEW GENERATION of
    * (docs, buckets) — the atomic two-table append
    * ([[graft.sources.GenCommit]]): a crash anywhere leaves the
    * generation uncommitted and invisible (docs can never exist without
    * their buckets — silently lost pairs — nor double-apply on retry;
    * review r13). Cost is delta-proportional (measured against rebuild
    * in SCALE.md). Frozen parameters are what make append ≡ build: every
    * doc, old or new, is bucketed under the same hash family, so the
    * committed set is exactly what `lshBuild(old ∪ delta)` would write
    * (spec-pinned in TextSpec). Caller owns id-uniqueness across
    * COMMITTED appends, as with any index.
    */
  def lshAppend(
      spark: SparkSession,
      indexDir: String,
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val (shingleN, numHashes, bands, subBuckets, docBuckets) =
      lshMeta(spark, indexDir)
    // claim-first: the id is fenced BEFORE the staged write, so losing
    // a race with a concurrent appender costs a metadata retry inside
    // claimNextGen, never a re-staged write job; the claim records the
    // writer token so publish verifies ownership (ADVICE r14)
    val tk = graft.sources.GenCommit.newToken()
    val gen = graft.sources.GenCommit.claimNextGen(spark, indexDir,
      LshScanTables, token = tk)
    lshWriteGeneration(spark, indexDir, gen, delta, idCol, textCol,
      shingleN, numHashes, bands, subBuckets, docBuckets, claimed = true,
      token = tk)
  }

  /** TOMBSTONE delete from the standing LSH index — remove documents
    * WITHOUT a rebuild (VERDICT r14 #1: takedown/opt-out removal is a
    * standing LLM-corpus requirement, and append+compact alone forces a
    * corpus-sized rebuild for a handful of removed ids). The delete
    * commits ONE delta-proportional generation holding only the removed
    * ids (the shared `tombs` table, [[graft.sources.GenCommit
    * .TombsTable]]); nothing in the docs/buckets trees is touched.
    * Probes mask dead rows by the lake formats' sequence-number rule
    * ([[graft.sources.GenCommit.maskTombstones]]): a tombstone kills
    * every EARLIER generation's rows for the id, so
    * delete-then-re-append revives the doc (the re-appended generation
    * is later), and an `asOfGen` pin from before the delete still reads
    * it (both spec-pinned). [[lshCompact]] folds tombstones into the
    * data tables (dead rows physically dropped, tombs table removed), so
    * the masking join's price is bounded by the compaction cadence.
    * Deleting an id the index never held masks nothing and is harmless —
    * which is also what makes a replayed streaming delete idempotent
    * ([[graft.streaming.DedupStream]]).
    */
  def lshDelete(
      spark: SparkSession,
      indexDir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Unit = {
    val tk = graft.sources.GenCommit.newToken()
    val gen = graft.sources.GenCommit.claimNextGen(spark, indexDir,
      LshScanTables, token = tk)
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("overwrite")
      .parquet(graft.sources.GenCommit.stagePath(indexDir, gen,
        graft.sources.GenCommit.TombsTable, tk))
    graft.sources.GenCommit.publish(spark, indexDir, gen,
      Seq(graft.sources.GenCommit.TombsTable), tk, claimed = true)
  }

  /** Probe a materialized LSH index ([[lshBuild]]) with a delta of
    * documents: every (probe, indexed) pair at Jaccard ≥ `threshold` —
    * identical output to [[minhashDeltaPairs]] at the same parameters on
    * the same corpus split (driver-gated: x21b shares x21's oracle).
    *
    * Cost shape, stated precisely: the SHUFFLES and the output are
    * |delta|-proportional (the delta signs map-side and broadcasts into
    * the bucket join), and since r14 the SCANS are probe-proportional
    * too whenever the probe is small enough for that to matter:
    *  - the bucket scan statically prunes to the (band, sb) sub-bucket
    *    combinations the probe's own signatures touch — the touched set
    *    is structurally bounded by bands × sub_buckets rows, collected
    *    driver-side at the price of one extra delta-signing job. A
    *    handful of probe docs reads a handful of directories; a full
    *    nightly delta touches every combination and keeps the r13
    *    corpus-sized scan (3 narrow columns), with the collect telling
    *    us so for free.
    *  - the exact-verify docs scan prunes to the candidates' `db`
    *    sub-buckets in the POINT-PROBE regime (probe doc count ≤
    *    doc_buckets, learned in the same bounded job) — that path runs
    *    the candidate join one extra time (cheap there by construction)
    *    to collect ≤ doc_buckets directory names; a full nightly skips
    *    it and keeps the single-pass corpus scan, since its candidates
    *    would touch nearly every db (birthday bound) and
    *    candidate-bounded FETCH needs point lookups no uniform-hash
    *    layout can give a batch engine.
    * What the index removes vs the no-index nightly is the corpus's
    * per-probe COMPUTE — text parse, shingling, 32-way minhashing — and
    * its per-probe BYTES for targeted probes. Measured at a 10M-doc
    * parquet corpus (SCALE.md r13/r14): 2.7× at the realistic 1%
    * nightly delta (23.5 s vs 63.2 s), converging toward parity at 10%
    * deltas where the exact-verification work BOTH paths share
    * dominates; the maintenance path (lshAppend 7.6 s for 1M docs vs
    * 33.6 s rebuild) is where the standing index pays for itself.
    *
    * `probeBands` (default: all) is the IVF-`nprobe` analog: probing k of
    * the stored `bands` bands turns the bucket scan into a
    * PARTITION-PRUNED read of k/bands of the index with detection
    * probability 1-(1-J^rows)^k per pair — the recall/cost knob
    * plan-asserted in TextSpec. Full-band probes keep candidate recall
    * identical to the self-join detector.
    *
    * `asOfGen` (default: all committed) pins the read to the committed
    * set as of that generation ([[graft.sources.GenCommit
    * .committedAsOf]]): a probe running concurrently with an append
    * keeps a stable snapshot, and an audit reproduces yesterday's
    * result exactly (driver-gated: x21c probes an APPENDED index pinned
    * at the pre-append generation and must equal the un-appended
    * probe's oracle — a leaked later generation would surface as
    * self-pairs at Jaccard 1.0).
    *
    * @return (probe_id, index_id, jaccard), all crossing pairs exact on
    *         the surviving candidates
    */
  def lshProbe(
      spark: SparkSession,
      indexDir: String,
      probes: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.9,
      probeBands: Option[Int] = None,
      asOfGen: Option[Long] = None): DataFrame = {
    val (shingleN, numHashes, bands, subBuckets, docBuckets) =
      lshMeta(spark, indexDir)
    probeBands.foreach(k => require(k >= 1 && k <= bands,
      s"probeBands must be in [1, $bands]: $k"))
    // persisted across the DRIVER-SIDE jobs below (the shape job and
    // the optional point-regime db collect) — separate jobs cannot
    // share an exchange (lshWriteGeneration's lesson), so without the
    // persist each would re-parse, re-shingle and re-minhash the probe
    // set. Unpersisted before returning: the session's CacheManager
    // holds cached plans STRONGLY (ContextCleaner does not reclaim SQL
    // cache), so keeping it would leak one cached frame per probe call
    // for the session's lifetime (review r14). The returned plan then
    // re-signs the delta once when executed — bounded, delta-sized,
    // leak-free.
    val pSig = lshSignatures(probes, idCol, textCol, shingleN, numHashes,
        bands)
      .repartition(col("doc_id"))
      .persist()
    val pBuckets = pSig
      .select(col("doc_id").as("probe_id"),
        posexplode(col("bsig")).as(Seq("band", "sig")))
      .filter(col("band") < probeBands.getOrElse(bands))
      .select(concat(lit("b"), col("band").cast("string")).as("band"),
        col("sig"), col("probe_id"))
      .withColumn("sb", lshSb(col("sig"), subBuckets))
    // ONE bounded job learns the probe's shape: its touched (band, sb)
    // combinations (structurally capped at bands × sub_buckets values —
    // a bounded-metadata collect; the job's price is one extra
    // delta-signing pass) and its doc count. The combinations become
    // pruning LITERALS so the bucket read scans only the sub-buckets
    // the probe can match: same sig ⇒ same sb, dropping the rest is
    // lossless.
    val shape = pBuckets.agg(
      collect_set(struct(col("band"), col("sb"))).as("combos"),
      countDistinct(col("probe_id")).as("n")).head()
    val touched = shape.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1)))
    val nProbe = shape.getLong(1)
    // full-coverage probes skip the combo filter entirely: a nightly
    // delta touches every (band, sb) combination of its probed bands
    // (the collect tells us so for free), and the OR-chain of up to
    // bands × sub_buckets equality conjunctions it would build prunes
    // NOTHING there while costing measurable planning and
    // partition-listing time per probe (ADVICE r14). Dropping it is
    // lossless at any coverage — the candidate join's keys include
    // (band, sb) — so the saturated path keeps only the band-level
    // prune probeBands promises (a plain isin when k < bands, nothing
    // when every band is probed).
    val kBands = probeBands.getOrElse(bands)
    // tombstone masking rides on the PRUNED reads (costs nothing until a
    // delete exists — see maskTombstones); dead docs leave the candidate
    // set here, and their shingle rows are masked from the verify scan
    // below, so a deleted doc can surface in NO pair
    def alive(df: DataFrame) = graft.sources.GenCommit
      .maskTombstones(spark, indexDir, df, "doc_id", asOfGen)
    val iBucketsAll = alive(lshCommitted(spark, indexDir, "buckets", asOfGen))
    val iBuckets =
      if (touched.size >= kBands * subBuckets) {
        if (kBands == bands) iBucketsAll
        else iBucketsAll.filter(
          col("band").isin((0 until kBands).map("b" + _): _*))
      } else iBucketsAll
        .filter(touched.map { case (b, sb) =>
          col("band") === b && col("sb") === sb
        }.reduceOption(_ || _).getOrElse(lit(false)))
    val cand = pBuckets
      .join(iBuckets.select(col("band"), col("sb"), col("sig"),
        col("doc_id").as("index_id")), Seq("band", "sb", "sig"))
      .select("probe_id", "index_id")
      .distinct()
    // verify-side pruning in the POINT-PROBE regime (≤ doc_buckets probe
    // docs): the candidate join runs once extra to collect ≤ doc_buckets
    // directory names — cheap there, because its bucket scan is the
    // pruned one above and the candidate set is small. A nightly delta
    // skips it and keeps the r13 single-pass corpus verify scan: its
    // candidates would touch nearly every db anyway (birthday bound), so
    // the extra run would buy nothing.
    val iDocsAll = alive(lshCommitted(spark, indexDir, "docs", asOfGen))
    val iDocs =
      if (nProbe > docBuckets) iDocsAll
      else {
        val dbs = cand
          .select(lshDb(col("index_id"), docBuckets).as("db"))
          .distinct().collect().map(_.getString(0)).toSeq
        if (dbs.isEmpty) iDocsAll.filter(lit(false))
        else iDocsAll.filter(col("db").isin(dbs: _*))
      }
    // driver-side jobs done — release the cache BEFORE handing back the
    // plan (cache substitution happens at execution time, so the caller
    // recomputes the delta-sized signatures once and leaks nothing)
    pSig.unpersist()
    cand
      .join(pSig.select(col("doc_id").as("probe_id"), col("sh").as("sh_p")),
        Seq("probe_id"))
      .join(iDocs
        .select(col("doc_id").as("index_id"), col("sh").as("sh_i")),
        Seq("index_id"))
      .select(col("probe_id"), col("index_id"),
        size(array_intersect(col("sh_p"), col("sh_i"))).as("inter"),
        size(col("sh_p")).as("n_p"), size(col("sh_i")).as("n_i"))
      .select(col("probe_id"), col("index_id"),
        (col("inter").cast("double") /
          (col("n_p") + col("n_i") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Small-file compaction for an appended LSH index — a year of nightly
    * [[lshAppend]]s is ~365 files per band partition (and per the docs
    * table), the same lake small-files problem [[graft.ops.Vector
    * .ivfCompact]] solves for IVF, fixed the same way: rewrite buckets
    * ONE FILE PER BAND (repartition on the partition column) and the docs
    * table range-partitioned on doc_id, each behind [[graft.sources
    * .SwapDir]]'s crash-safe rename-aside swap (every failure point
    * leaves a complete set on disk; [[lshRecover]] heals interrupted
    * swaps and runs here on entry). Contents are untouched, so probes
    * before and after are bit-identical (spec-pinned). Single-writer,
    * maintenance-window semantics, as with any lake table rewrite.
    */
  def lshCompact(spark: SparkSession, indexDir: String): Unit = {
    lshRecover(spark, indexDir)
    graft.sources.GenCommit.gcStages(spark, indexDir)
    // the collapsed table keeps the HIGHEST committed id, not 0: ids are
    // never reused across compaction, so a stale asOfGen pin fails
    // loudly instead of silently resolving to post-compaction content,
    // while a pin at the surviving id denotes the same data before and
    // after (review r14). The consistency window still holds: until the
    // commit-set swap, readers filter the compacted single-generation
    // table by the OLD committed set, which contains keepGen — complete.
    val keepGen = graft.sources.GenCommit.lastCommitted(spark, indexDir)
    // tombstones FOLD here: the rewrite keeps only alive rows and the
    // tombs table is dropped below. Window consistency holds throughout:
    // the rewritten rows land at gen=keepGen, and a tombstone can sit at
    // most AT keepGen (never later), so the strict tombGen > gen rule
    // masks nothing of the compacted data even before the tombs dir
    // goes — every intermediate state reads alive rows exactly
    def aliveC(table: String) = graft.sources.GenCommit.maskTombstones(
      spark, indexDir, lshCommitted(spark, indexDir, table), "doc_id")
    // one file per (band, sb): each combination hashes to exactly one
    // task, so files-per-combination collapses to 1 regardless of how
    // many generations fed it
    aliveC("buckets").drop("gen")
      .repartition(col("band"), col("sb"))
      .withColumn("gen", lit(keepGen))
      .write.mode("overwrite").partitionBy("gen", "band", "sb")
      .parquet(graft.sources.SwapDir.stagePath(indexDir, "buckets"))
    graft.sources.SwapDir.swap(spark, indexDir, "buckets")
    val docs = aliveC("docs").drop("gen")
    // file count from filesystem metadata (~128 MB of parquet per file,
    // ≥ 2 so the rewrite never regresses to one task), the ledger
    // compactor's sizing rule; range-clustering on (db, doc_id) keeps
    // total files near max(nFiles, doc_buckets) instead of the
    // hash-shuffle worst case nFiles × doc_buckets
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$indexDir/docs")).getLength
    val nFiles = math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (bytes / (128L << 20)).toInt + 1))
    docs.repartitionByRange(nFiles, col("db"), col("doc_id"))
      .withColumn("gen", lit(keepGen))
      .write.mode("overwrite").partitionBy("gen", "db")
      .parquet(graft.sources.SwapDir.stagePath(indexDir, "docs"))
    graft.sources.SwapDir.swap(spark, indexDir, "docs")
    // folded tombstones go last: both data tables are already alive-only
    // at gen=keepGen (which the strict masking rule leaves untouched —
    // see above), so dropping the tombs dir changes no read at any
    // crash point
    graft.sources.GenCommit.dropTombs(spark, indexDir)
    // commit set resets to {keepGen}; see invCompact's window-by-window
    // argument — every intermediate state serves exactly the committed
    // rows, and uncommitted orphan generations vanish with the swaps
    graft.sources.GenCommit.resetCommits(spark, indexDir, keepGen)
  }

  /** The measured compact-now signal for the LSH index ([[graft.sources
    * .GenCommit.shouldCompact]]'s crossover over docs + buckets + the
    * tombstone table — tombstone bytes are pure read redundancy, so they
    * push toward folding).
    */
  def lshShouldCompact(spark: SparkSession, indexDir: String,
      expectedReads: Int = 30): Boolean =
    graft.sources.GenCommit.shouldCompact(spark, indexDir, LshScanTables,
      expectedReads)

  /** Heal an LSH index whose [[lshCompact]] swap was interrupted — the
    * two tables and the commit set, each independently (a crash between
    * swaps leaves earlier ones promoted and later ones not; each heals
    * to a complete generation, every intermediate state read-consistent).
    * Safe any time; lshCompact runs it on entry.
    */
  def lshRecover(spark: SparkSession, indexDir: String): Unit = {
    graft.sources.SwapDir.recover(spark, indexDir, "buckets",
      s"lshRecover: no buckets at $indexDir in any generation — " +
        "the index is gone, rebuild with lshBuild")
    graft.sources.SwapDir.recover(spark, indexDir, "docs",
      s"lshRecover: no docs at $indexDir in any generation — " +
        "the index is gone, rebuild with lshBuild")
    graft.sources.SwapDir.recover(spark, indexDir, "commits",
      s"lshRecover: no commit set at $indexDir in any generation — " +
        "the index is gone, rebuild with lshBuild")
  }

  /** x21b_delta_dedup_indexed: [[x21]] through the STANDING index — the
    * full lifecycle in the gated path: build over 3/5 of the corpus,
    * [[lshAppend]] the remaining corpus slice under the frozen
    * parameters, [[lshCompact]] (rename-aside swap included), then
    * [[lshProbe]] with the delta. Output is the same all-crossing-pairs
    * set, so it SHARES x21's oracle — the q71 all-cells precedent:
    * every index stage is driver-gated with no recall caveat (full-band
    * probe ⇒ candidate set identical to the self-join detector's).
    */
  def x21b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val idx = graft.TempRoots.create("graft_lsh_x21b_")
    lshBuild(corpus.filter(pmod(col("doc_id"), lit(5L)) < 3), idx)
    lshAppend(spark, idx,
      corpus.filter(pmod(col("doc_id"), lit(5L)) === 3))
    lshCompact(spark, idx)
    lshProbe(spark, idx, docs.filter(pmod(col("doc_id"), lit(5L)) === 4))
      .select(col("probe_id").as("delta_id"),
        col("index_id").as("corpus_id"), col("jaccard"))
      .orderBy("delta_id", "corpus_id")
  }

  /** x21c_delta_dedup_asof: the GENERATION-PINNED read, driver-gated —
    * build the index over the standing corpus (gen 0), APPEND the delta
    * docs themselves as gen 1, then probe with the delta pinned
    * `asOfGen = 0`. The pin must hide gen 1 entirely: an unpinned probe
    * would see every delta doc match ITSELF at Jaccard 1.0 (plus
    * delta-internal near-dups), so any snapshot leak hash-mismatches
    * loudly. The pinned result is exactly the un-appended index's
    * probe — SHARES x21's oracle, completing GenCommit's minimal
    * table-format story with reproducible as-of reads (VERDICT r13 #2).
    */
  def x21c(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
    val idx = graft.TempRoots.create("graft_lsh_x21c_")
    lshBuild(corpus, idx)
    lshAppend(spark, idx, delta)
    lshProbe(spark, idx, delta, asOfGen = Some(0L))
      .select(col("probe_id").as("delta_id"),
        col("index_id").as("corpus_id"), col("jaccard"))
      .orderBy("delta_id", "corpus_id")
  }

  /** x21d_delta_dedup_deleted: the TOMBSTONE-DELETE gate (VERDICT r14
    * #1, the merge ≡ rebuild precedent inverted) — build the index over
    * the standing corpus, [[lshDelete]] a 40% drop-slice (`doc_id % 5 ∈
    * {2,3}`), probe with the delta. The probe must behave exactly as if
    * the index had been BUILT over the pre-filtered corpus: own oracle
    * = x21's brute-force SQL with the corpus side restricted to
    * `doc_id % 5 < 2` — a single leaked dead doc surfaces as an extra
    * pair and hash-mismatches loudly. Delete-then-re-append revival and
    * as-of-before-delete reads are spec-pinned in TextSpec.
    */
  def x21d(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
    val idx = graft.TempRoots.create("graft_lsh_x21d_")
    lshBuild(corpus, idx)
    lshDelete(spark, idx,
      corpus.filter(pmod(col("doc_id"), lit(5L)).isin(2L, 3L)))
    lshProbe(spark, idx, delta)
      .select(col("probe_id").as("delta_id"),
        col("index_id").as("corpus_id"), col("jaccard"))
      .orderBy("delta_id", "corpus_id")
  }

  /** [[x21Sql]] over the post-delete corpus: the tombstoned 40% never
    * existed as far as the probe may tell.
    */
  val x21dSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents)
      |SELECT delta_id, corpus_id, jaccard FROM (
      |  SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
      |         CAST(len(list_intersect(d.s, c.s)) AS DOUBLE)
      |           / CAST(len(d.s) + len(c.s) - len(list_intersect(d.s, c.s)) AS DOUBLE) AS jaccard
      |  FROM sh d JOIN sh c ON d.doc_id % 5 = 4 AND c.doc_id % 5 < 2)
      |WHERE jaccard >= 0.9
      |ORDER BY delta_id, corpus_id""".stripMargin

  // ---- x10: exact n-gram Jaccard join via prefix filtering ----

  /** EXACT n-gram Jaccard similarity join — every pair at or above
    * `threshold`, no approximation — made scale-safe by PREFIX FILTERING
    * (the AllPairs/PPJoin family): the exact counterpart of [[minhashPairs]]
    * for when missed pairs are not acceptable.
    *
    * The filter: order every token by a single global canonical order
    * (ascending document frequency, ties by token — rare-first, so prefixes
    * carry the most selective tokens). If Jaccard(A,B) ≥ t, the first
    * |A| − ⌈t·|A|⌉ + 1 tokens of A (in that order) MUST share a token with
    * the same-length prefix of B — so candidates come from an equi-join on
    * PREFIX tokens only, never an all-pairs cross. A length filter
    * (min ≥ t·max, since J ≤ min/max) prunes further; exact Jaccard over
    * the full token sets then verifies candidates. Every step is a bounded
    * shuffle: the df aggregate is vocabulary-sized, the prefix join
    * shuffles ~(1−t)·corpus tokens, verification touches candidates only.
    *
    * ⌈t·n⌉ is computed in exact decimal arithmetic: a double `ceil` that
    * rounds 4.0 up to 5 would SHORTEN a prefix and silently lose recall —
    * the one bug class this operator must never have.
    *
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, all pairs exact
    * @note CALLER-MUST-SWEEP (ADVICE r5): this operator `persist()`s two
    *       intermediates (the per-doc shingle table and the selected
    *       prefixes) that outlive the returned DataFrame's actions; a
    *       long-lived session invoking it repeatedly must drop them —
    *       `spark.sharedState.cacheManager.clearCache()` (what Bench/Verify
    *       do between queries) or `catalog.clearCache()` — or accumulate
    *       cached blocks per invocation. Library users who don't manage a
    *       session-wide sweep should prefer [[jaccardJoinSwept]], which
    *       scopes the caches to one callback.
    */
  def jaccardJoin(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      dfBroadcastMaxBytes: Long = 64L << 20): DataFrame =
    jaccardJoinImpl(docs, idCol, textCol, shingleN, threshold,
      dfBroadcastMaxBytes)._1

  /** Loan-pattern form of [[jaccardJoin]] (ADVICE r6): runs `use` with the
    * pair DataFrame, then unpersists the operator's two cached
    * intermediates — the caller's action happens inside the scope, so no
    * blocks leak into a long-lived session and no session-wide
    * `clearCache()` sweep (which would also evict the CALLER's caches) is
    * needed. The raw form stays available for callers that already manage
    * cache lifetime (Bench/Verify sweep between queries).
    */
  def jaccardJoinSwept[T](
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      dfBroadcastMaxBytes: Long = 64L << 20)(use: DataFrame => T): T = {
    val (pairs, cached) = jaccardJoinImpl(docs, idCol, textCol, shingleN,
      threshold, dfBroadcastMaxBytes)
    try use(pairs)
    finally cached.foreach(_.unpersist(blocking = false))
  }

  private def jaccardJoinImpl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      dfBroadcastMaxBytes: Long): (DataFrame, Seq[DataFrame]) = {
    val t = lit(java.math.BigDecimal.valueOf(threshold)) // exact decimal
    // The shingle table feeds three consumers — the df aggregate, the
    // prefix pipeline, and both verify joins — whose diverging pushed-down
    // filters defeat ReuseExchange, so it is cached once (one row per doc,
    // one token array: corpus-bounded, far smaller than the text itself;
    // Bench/callers drop the blocks post-query). Verification reads these
    // UNSORTED arrays directly — array_intersect is order-blind — so the
    // canonical global order is never materialized as rebuilt string
    // arrays: prefix selection is a per-doc top-k (window row_number) over
    // the exploded (df, tok) stream instead.
    graft.ext.GraftFunctions.ensureWordNgrams(docs.sparkSession)
    val sh = docs.select(col(idCol).as("doc_id"),
        nativeShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0) // J undefined on empty sets → q21's job
      .withColumn("sz", size(col("sh")))
      .persist()
    // document frequency per token: explode → vocabulary-bounded aggregate.
    // Broadcasting the lookup keeps the exploded corpus out of a shuffle,
    // but unlike q56's WORD vocab the distinct-SHINGLE space is not
    // reliably broadcast-sized at 100 TB (n-gram types grow near-linearly
    // with the corpus). The hint is therefore CONDITIONAL: the shingle
    // vocabulary's footprint is upper-bounded by the corpus' plan-stats
    // size (at most one distinct shingle per input token), and past
    // `dfBroadcastMaxBytes` of source the lookup takes the shuffle join
    // instead — the estimate costs no job and errs toward shuffling, the
    // safe direction. Both paths produce identical pairs (TextSpec).
    val df_ = sh.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val dfLookup =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes
            <= BigInt(dfBroadcastMaxBytes)) broadcast(df_)
      else df_
    // a J≥t pair MUST share one of each side's first sz−⌈t·sz⌉+1 tokens
    // under the global rare-first (df, tok) order. The selected prefixes —
    // (1−t)·tokens of the corpus, cached — feed both sides of the
    // candidate self-join, so the explode+join+window chain runs once.
    val prefLen = (col("sz") - ceil(col("sz") * t) + 1).cast("int")
    val w = Window.partitionBy(col("doc_id")).orderBy(asc("df"), asc("tok"))
    val pref = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("tok"))
      .join(dfLookup, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefLen)
      .select("doc_id", "sz", "tok")
      .persist()
    val cand = pref.select(col("tok"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      .join(pref.select(col("tok"), col("doc_id").as("doc_b"), col("sz").as("sz_b")), "tok")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("decimal(12,1)") >=
        t * greatest(col("sz_a"), col("sz_b"))) // J ≤ min/max
      .select("doc_a", "doc_b").distinct()
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    val pairs = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("toks_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("toks_b"),
        col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (col("sz_a") + col("sz_b") - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (pairs, Seq(sh, pref))
  }

  /** x10_jaccard_join: exact word-trigram Jaccard ≥ 0.8 over `documents`
    * via [[jaccardJoin]] — oracle-checked against the brute-force all-pairs
    * restatement (viable at oracle scale; the prefix filter is what removes
    * the O(n²) at data scale while keeping the answer EXACT, unlike
    * x02's probabilistic LSH recall).
    */
  def x10(spark: SparkSession, dir: String): DataFrame =
    jaccardJoin(Tables.documents(spark, dir))
      .orderBy("doc_a", "doc_b")

  val x10Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |           / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over a near-dup pair list by min-label
    * propagation: every document in a duplicate cluster gets the cluster's
    * smallest doc id as its component label — the canonical-pick step that
    * turns PAIRS (x02/x07 output) into deduplicable CLUSTERS.
    *
    * Pregel-style driver-controlled loop: each iteration joins labels
    * across edges and keeps the per-node minimum; iteration count is
    * bounded by the component DIAMETER, and near-dup components are
    * near-cliques (every pair passed the same similarity threshold), so
    * 2-3 iterations converge in practice. The driver does loop CONTROL
    * only (a has-anything-changed probe per iteration) — all data work is
    * distributed joins/aggregations on (id, comp) pairs, never the corpus.
    * `localCheckpoint` truncates the growing lineage each round. At
    * 100 TB-scale pair lists, swap the propagation for the
    * large-star/small-star algorithm (alternating min-joins with the same
    * driver-loop shape) — the hand-off is this function.
    */
  /** Tracks localCheckpoint block-RDD ids so superseded loop iterations
    * can be freed EAGERLY: ContextCleaner only frees them after a driver
    * GC notices the dropped reference, so in a long-lived session (bench
    * loop, notebook, repeated pipeline runs) untracked iterations pile up.
    * Only a loop's RETURNED dataset keeps its blocks (the caller reads it).
    */
  /** Workaround for a Spark 4.1 optimizer defect the CC loops expose:
    * when the caller's pair list is UNION-shaped (e.g. minhash ∪ simhash
    * pairs — a routine composition), constraint propagation across the
    * loops' alias-swapped self-unions of checkpointed plans dies inside
    * `UnionBase.rewriteConstraints` with `NoSuchElementException: key not
    * found: u#…` (reproduced in ScaleSpec's planted-mix shape; Stress hit
    * it first). The loop joins are on bare long ids where inferred
    * constraints optimize nothing, so propagation is disabled for the
    * loop's duration and restored after; the RETURNED labels are eagerly
    * checkpointed inside the disabled scope so the caller's later actions
    * plan against a constraint-free `LogicalRDD`, never the failing shape.
    */
  /** One lock per SparkSession (weak-keyed — sessions must stay
    * collectable): the conf flip below mutates SESSION-global state with
    * save/restore, so two concurrent CC loops on the same session could
    * interleave such that one loop's `finally` re-enables propagation
    * while the other is mid-iteration, nondeterministically resurfacing
    * the crash this helper exists to avoid. Serializing the loops on a
    * per-session monitor closes that window; loops on DIFFERENT sessions
    * (`newSession()`/`cloneSession()` — each has its own conf) still run
    * concurrently, which is also the escape hatch for callers who need
    * a CC loop concurrent with propagation-dependent queries.
    */
  private val ccLoopLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())

  private def withoutConstraintPropagation[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T =
    ccLoopLocks.computeIfAbsent(spark, _ => new Object).synchronized {
      val key = "spark.sql.constraintPropagation.enabled"
      val saved = spark.conf.get(key)
      spark.conf.set(key, "false")
      try f finally spark.conf.set(key, saved)
    }

  private final class CheckpointTracker(sc: org.apache.spark.SparkContext) {
    // ids come from the checkpointed frame's OWN LogicalRDD (review
    // r20, graft.Ckpt) — the earlier getPersistentRDDs set diff could
    // sweep up a concurrent caller's checkpoint landing in the window
    def checkpoint(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint()
      (out, graft.Ckpt.ownedRdd(out, "CC loop checkpoint").map(_.id).toSet)
    }
    def free(ids: Set[Int]): Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Fused convergence signature for the CC loops (optimization r20,
    * guide §5 — keep the driver out of the data path): each round used
    * to pay a dedicated convergence-probe JOB over the two checkpointed
    * iterates (star loop: exceptAll both ways + union + isEmpty — two
    * wide shuffles; plain loop: a join + isEmpty), i.e. one driver
    * round-trip per round on top of the checkpoint itself. The
    * signature — (exact decimal sum of xxhash64(row), bit_xor of
    * xxhash64(row), count) — instead RIDES the checkpoint job via
    * `Dataset.observe` (a pass-through CollectMetrics node: rows,
    * partitioning and the checkpointed bytes are untouched), so
    * non-final rounds pay NO probe at all.
    *
    * Exactness: both iterates are row SETS (a `.distinct()` output in
    * the star loop, a one-row-per-id aggregate in the plain one), and equal sets
    * always produce equal signatures, so a DIFFERING signature proves
    * the round changed something — the probe is skipped. An EQUAL (or
    * undelivered) signature is only ever a hint: the original exact
    * probe then runs and remains the SOLE arbiter of convergence. A
    * hash collision therefore costs one wasted probe, never a wrong
    * label. The sum is over decimal(38,0) — sum(LongType) would
    * overflow-throw under ANSI on uniformly distributed hashes.
    */
  private final class LoopSignature(cols: Seq[String]) {
    private def h = xxhash64(cols.map(col): _*)
    def attach(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (df.observe(obs, sum(h.cast("decimal(38,0)")).as("__sig_sum"),
        bit_xor(h).as("__sig_xor"), count(lit(1)).as("__sig_n")), obs)
    }
    /** The delivered signature, or None if the metrics listener has not
      * fired within the bounded wait (the checkpoint action has already
      * completed when this is called, so delivery is normally
      * immediate; None merely falls back to the exact probe).
      */
    def get(obs: org.apache.spark.sql.Observation): Option[IndexedSeq[Any]] =
      scala.util.Try(scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(1, "s")))
        .toOption
        .map(r => IndexedSeq(r.getAs[Any]("__sig_sum"),
          r.getAs[Any]("__sig_xor"), r.getAs[Any]("__sig_n")))
    /** Whether two signed iterates might be equal sets — false PROVES
      * they differ; true (including unknown) defers to the exact probe.
      */
    def maybeEqual(a: Option[IndexedSeq[Any]],
        b: Option[IndexedSeq[Any]]): Boolean =
      a.isEmpty || b.isEmpty || a == b
  }

  def dupComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIters: Int = 20): DataFrame =
      withoutConstraintPropagation(pairs.sparkSession) {
    val tracker = new CheckpointTracker(pairs.sparkSession.sparkContext)
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val und = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    // materialize the cache BEFORE the first tracked checkpoint: persist()
    // registers its block RDD only on first materialization, and if that
    // happened inside the checkpoint's tracking window the id-diff would
    // sweep und's cache into the seed's tracked ids — and wrongly free it
    // after the first iteration.
    und.count()
    // seed with one propagation step folded into the init aggregate:
    // comp₀ = min(self, neighbors). Near-dup components are near-cliques,
    // so most nodes already see the component minimum here and the loop
    // usually needs only the single confirming iteration.
    val sig = new LoopSignature(Seq("id", "comp"))
    val (seed, seedObs) = sig.attach(
      und.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), first(col("src"))).as("comp")))
    var (labels, labelIds) = tracker.checkpoint(seed)
    var labelSig = sig.get(seedObs)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val prop = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("comp"))
      val (iter, iterObs) = sig.attach(
        labels.union(prop)
          .groupBy("id").agg(min(col("comp")).as("comp")))
      val (next, nextIds) = tracker.checkpoint(iter)
      val nextSig = sig.get(iterObs)
      // the signature rode the checkpoint job (see LoopSignature): a
      // differing one proves a label moved and skips the probe job; the
      // exact join probe stays the sole arbiter of convergence
      converged = sig.maybeEqual(nextSig, labelSig) &&
        next.join(labels.withColumnRenamed("comp", "prev"), "id")
          .filter(col("comp") =!= col("prev")).isEmpty // no label moved
      tracker.free(labelIds) // superseded iteration's blocks, freed post-probe
      labels = next
      labelIds = nextIds
      labelSig = nextSig
      i += 1
    }
    und.unpersist()
    labels // already a checkpointed LogicalRDD (the loop's last iterate)
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014) — the 100 TB
    * form of [[dupComponents]]: alternating min-rewiring rounds converge in
    * O(log n) iterations regardless of component DIAMETER, where plain
    * min-label propagation needs diameter-many rounds (a 200-node path
    * defeats its iteration cap; see PropertiesSpec). Same driver-loop
    * shape: the driver only controls convergence, every round is two
    * distributed self-aggregating joins over the edge list — the corpus is
    * never touched.
    *
    * Edges are kept in canonical (u > v) orientation. Each round:
    * large-star connects every strictly-larger neighbor of a node to its
    * neighborhood minimum (including self); small-star connects the node
    * and its remaining smaller neighbors to that minimum. At the fixpoint
    * the edge set is a star per component centered at the component
    * minimum, and labels read off as min(self, neighbors).
    */
  def dupComponentsStar(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIters: Int = 30): DataFrame =
    dupComponentsStarTimed(pairs, aCol, bCol, maxIters)._1

  /** [[dupComponentsStar]] plus per-round wall-clock seconds (convergence
    * probe included — it is part of every round's real cost). The length
    * of the returned vector IS the round count, which ScaleSpec pins
    * ≤ log₂(n)+2 on a planted high-diameter component mix and Stress
    * records at the 1M-edge scale — the O(log n) claim, measured rather
    * than cited.
    */
  private[graft] def dupComponentsStarTimed(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIters: Int = 30): (DataFrame, Vector[Double]) =
      withoutConstraintPropagation(pairs.sparkSession) {
    val roundSecs = scala.collection.immutable.Vector.newBuilder[Double]
    val tracker = new CheckpointTracker(pairs.sparkSession.sparkContext)
    def nbrMin(sym: DataFrame) =
      sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
    val sig = new LoopSignature(Seq("u", "v"))
    val (seed, seedObs) = sig.attach(
      pairs.select(
          greatest(col(aCol), col(bCol)).as("u"),
          least(col(aCol), col(bCol)).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var (edges, edgeIds) = tracker.checkpoint(seed)
    var edgeSig = sig.get(seedObs)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val t0 = System.nanoTime()
      // large-star over the SYMMETRIC adjacency: each undirected edge is
      // processed at its smaller endpoint (only v > u emits), so the new
      // (larger, min) edge replaces it; min ≤ u < v keeps u > v canonical
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val afterLarge = sym.join(nbrMin(sym), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on canonical edges: all stored neighbors of u are
      // smaller, so each (u, v) rewires v to the group minimum, and u
      // itself attaches to it
      val mins = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val part1 = afterLarge.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v > m: canonical
      val part2 = mins.select(col("u"), col("m").as("v"))
      val (iter, iterObs) = sig.attach(part1.union(part2).distinct())
      val (next, nextIds) = tracker.checkpoint(iter)
      val nextSig = sig.get(iterObs)
      // the signature rode the checkpoint job (see LoopSignature): a
      // differing one proves the edge set changed and skips the probe
      // job entirely; when it matches, the exact symmetric-difference
      // probe below still decides — the signature can only ever skip
      // work, never declare convergence
      converged = sig.maybeEqual(nextSig, edgeSig) &&
        next.exceptAll(edges).union(edges.exceptAll(next)).isEmpty
      tracker.free(edgeIds)
      edges = next
      edgeIds = nextIds
      edgeSig = nextSig
      i += 1
      roundSecs += (System.nanoTime() - t0) / 1e9
    }
    val symF = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val labels = symF
      .groupBy("u").agg(least(min(col("v")), first(col("u"))).as("comp"))
      .select(col("u").as("id"), col("comp"))
      .localCheckpoint() // caller actions plan against a LogicalRDD barrier
    (labels, roundSecs.result())
  }

  /** Deterministic cluster-size CAP over (id, comp) labels — the guard
    * for transitive-chaining at loose similarity thresholds (q47's 0.35):
    * every component larger than `maxClusterSize` is star-split into
    * consecutive id-ordered sub-clusters of at most that size, each
    * relabeled by its own minimum id (so the "component = min member id"
    * invariant of [[dupComponents]]/[[dupComponentsStar]] survives the
    * split, and an untriggered cap is the identity — pinned in TextSpec).
    * Downstream per-cluster consumers (centroid replace, keep-one dedup)
    * then see bounded groups whatever the threshold chained together.
    *
    * Scale: runs on the LABEL table — (id, comp) pairs for clustered ids
    * only, a sliver of the corpus — and the one window ranks those narrow
    * rows within their component; sub-cluster relabeling is integer rank
    * arithmetic (rank div cap), exact and oracle-restatable. A component
    * must reach ~10⁷ members before its 16-byte-row window partition is
    * itself a skew concern — at which point the threshold, not the cap,
    * is the bug.
    */
  def capClusterSizes(
      labels: DataFrame,
      maxClusterSize: Int,
      idCol: String = "id",
      compCol: String = "comp"): DataFrame = {
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1")
    val w = Window.partitionBy(col(compCol)).orderBy(col(idCol))
    val sub = Window.partitionBy(col(compCol), col("bkt"))
    labels
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("bkt",
        (col("rn") - col("rn") % maxClusterSize) / maxClusterSize)
      .withColumn("capped_comp", min(col(idCol)).over(sub))
      .select(col(idCol), col("capped_comp").as(compCol))
  }

  /** q41_dedup_clusters: x02's near-dup pairs resolved into canonical
    * clusters — (doc_id, component, cluster_size) for every document that
    * has at least one near-duplicate. The oracle restates min-label
    * reachability as a DuckDB RECURSIVE CTE over the same brute-force pair
    * definition; both sides are exact integer computations.
    *
    * Runs [[dupComponentsStar]] — PROMOTED to the declared default in
    * round 9 (VERDICT r8 #7): the plain propagation loop's per-iteration
    * driver actions (convergence probe + localCheckpoint) made it
    * latency-sensitive under load (2.4 s quiet → 14.3 s driver-r8), and
    * the star loop is the 100 TB path anyway (O(log n) rounds vs
    * diameter-bounded). The plain loop stays declared as [[q41b]] — same
    * oracle, so the two loops' equivalence remains driver-verified at
    * every SF, on top of PropertiesSpec's random-graph pin.
    */
  def q41(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupComponentsStar(minhashPairs(Tables.documents(spark, dir)))
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q41b_dedup_clusters_plain: q41 through the plain min-label
    * propagation loop [[dupComponents]] — the diameter-bounded
    * cross-check (near-dup components are near-cliques, so it converges
    * in ~2 rounds here); shares q41's oracle so the star/plain
    * equivalence is driver-verified at every SF.
    */
  def q41b(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupComponents(minhashPairs(Tables.documents(spark, dir)))
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q68_dedup_keep: the deduplicated CORPUS — q41's cluster resolution
    * taken to its endpoint: drop every non-canonical cluster member (a
    * doc whose component label differs from its own id — the component
    * IS the cluster's minimum id, so the canonical doc keeps `id = comp`
    * for free) and keep everything else. The pairs → clusters → clean
    * corpus path, end to end: x02 finds, q41 resolves, q68 materializes.
    *
    * Scale shape: the anti-join's right side is only the NON-canonical
    * ids (cluster sizes minus one — near-dup clusters are a sliver of the
    * corpus), and the corpus never moves for cluster resolution (q41's
    * (id, comp) argument); the doc table's one shuffle is the anti-join
    * on doc_id.
    */
  def q68(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val drops = dupComponentsStar(minhashPairs(docs))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val q68Sql: String = dupReachCte + "\n" +
    """SELECT doc_id, lang, source FROM documents
      |WHERE doc_id NOT IN (
      |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |  WHERE id <> comp)
      |ORDER BY doc_id""".stripMargin

  /** Incremental DOCUMENT-cluster maintenance — merge a delta pair list
    * into standing [[q41]] components without re-running cluster
    * resolution over the full pair graph (VERDICT r13 #1; [[erMerge]]'s
    * merge ≡ rebuild recipe on doc ids). This closes the nightly dedup
    * pipeline end-to-end: detection is already delta-proportional
    * ([[lshProbe]] over the standing index, or [[minhashDeltaPairs]]
    * in-memory), and with ccMerge RESOLUTION is too — the full-corpus CC
    * rerun q41 would pay every night never happens.
    *
    * Inputs: `labels` = yesterday's (id, comp) resolution (clustered docs
    * only — every id there has ≥ 1 near-dup edge); `deltaPairs` = every
    * near-dup pair with at least one NEW endpoint: the cross pairs
    * (delta × standing corpus — lshProbe's output) UNION the
    * delta-internal pairs ([[minhashPairs]] over the small delta, per
    * minhashDeltaPairs' documented contract). Work done:
    *
    *  1. Touched components only — a standing component none of tonight's
    *     pairs reach passes through VERBATIM (one left_anti on comp).
    *  2. Star edges, not original pairs — each touched component re-enters
    *     CC as its (member, canonical) star, which preserves its exact
    *     connectivity in O(size) edges; the old×old pair list is never
    *     revisited.
    *  3. [[dupComponentsStar]] over star edges ∪ delta pairs — the
    *     O(log n) rounds run on a DELTA-PROPORTIONAL edge set (touched
    *     members + tonight's pairs), not the corpus pair graph.
    *
    * Merge ≡ rebuild, exactly: star edges preserve old connectivity, the
    * delta pair list contains by contract every edge with a new endpoint,
    * and an old×old pair cannot be new. Components therefore coincide as
    * vertex sets with the full rebuild's, so min-id canonical labels and
    * cluster sizes coincide row for row ([[q41c]] shares q41's oracle;
    * TextSpec pins the boundary matrix: bridged old clusters, delta-only
    * clusters, untouched pass-through, delta joining an unclustered old
    * doc).
    *
    * @return (id, comp) over all clustered docs, rebuild-identical
    */
  def ccMerge(
      labels: DataFrame,
      deltaPairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val (untouched, rewired) = ccMergeParts(labels, deltaPairs, aCol, bCol)
    untouched.unionByName(rewired)
  }

  /** [[ccMerge]] split into its two halves: (untouched pass-through,
    * rewired touched-set labels). The REWIRED half alone is the night's
    * CHANGED-ROWS set — what [[ClusterStore.merge]] persists as a
    * merge-on-read generation, so the standing store's nightly write is
    * delta-proportional while `untouched ∪ rewired` stays the full
    * resolution ccMerge's merge ≡ rebuild contract pins.
    */
  private[ops] def ccMergeParts(
      labels: DataFrame,
      deltaPairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): (DataFrame, DataFrame) = {
    val pairs = deltaPairs.select(col(aCol), col(bCol))
    val touchedIds = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct()
    val touchedComps = labels.join(touchedIds, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val untouched = labels.join(touchedComps, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
    // star edges of the touched components: (member, canonical); the
    // canonical doc needs no self edge — it is every star edge's dst
    val touchedEdges = labels.join(touchedComps, Seq("comp"), "left_semi")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(aCol), col("comp").as(bCol))
    val rewired = dupComponentsStar(
      touchedEdges.unionByName(pairs), aCol, bCol)
    (untouched, rewired)
  }

  /** The nightly delta pair list for a documents split: cross pairs
    * (delta probes the standing corpus) ∪ delta-internal pairs — exactly
    * the edge set [[ccMerge]]'s contract requires. Shared by [[q41c]]/
    * [[q68b]] and the TextSpec index-path cross-check.
    */
  private[graft] def deltaPairList(
      corpus: DataFrame, delta: DataFrame): DataFrame =
    minhashDeltaPairs(corpus, delta)
      .select(col("delta_id").as("doc_a"), col("corpus_id").as("doc_b"))
      .unionByName(minhashPairs(delta).select(col("doc_a"), col("doc_b")))

  /** q41c_dedup_clusters_merge: [[ccMerge]] over the x21 fixture split
    * (delta = `doc_id % 5 = 4`, the 20% nightly arrivals) — yesterday's
    * resolution is rebuilt in-gate from the standing 80% (gate honesty,
    * q83b's pattern), tonight's pair list is [[deltaPairList]], and the
    * merged resolution must equal the full rebuild: SHARES q41's oracle.
    * The standing-index form of the same pair list is driver-verified
    * separately (x21b shares x21's oracle — lshProbe ≡ minhashDeltaPairs
    * pair for pair), so gating the in-memory form gates both.
    */
  def q41c(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
    val standing = dupComponentsStar(minhashPairs(corpus))
    ccMerge(standing, deltaPairList(corpus, delta))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q41d_dedup_clusters_store: the STANDING form of [[q41c]] —
    * yesterday's resolution persisted by [[ClusterStore.init]],
    * tonight's pair list applied by [[ClusterStore.merge]] (ONLY the
    * changed labels hit disk, as a GenCommit-atomic merge-on-read
    * generation), the current view read back latest-wins. SHARES q41's
    * oracle: the store after the nightly merge must equal the batch
    * rebuild over the full corpus — which gates the whole persisted
    * lifecycle (init → merge → read) end to end, the way x21b gates the
    * LSH index's.
    */
  def q41d(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
    val store = graft.TempRoots.create("graft_clusters_q41d_")
    ClusterStore.init(dupComponentsStar(minhashPairs(corpus)), store)
    ClusterStore.merge(spark, store, deltaPairList(corpus, delta))
    ClusterStore.read(spark, store)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q41e_dedup_clusters_remove: the ClusterStore TOMBSTONE gate
    * (VERDICT r14 #1) — init the store with the FULL corpus resolution,
    * [[ClusterStore.remove]] every `doc_id % 5 = 4` id (the takedown
    * slice; removing the unclustered ones among them is the documented
    * no-op), read back. The view must be exactly the full resolution
    * MINUS the removed rows — row-scoped removal, labels of surviving
    * cluster members stable (see remove's scaladoc for why that is the
    * contract) — with cluster sizes recounted over the survivors. Own
    * oracle: q41's reachability CTE filtered before the size window, so
    * a leaked tombstone (or a dropped survivor) hash-mismatches loudly.
    * Remove-then-merge re-entry and as-of-before-remove reads are
    * spec-pinned in ClusterStoreSpec.
    */
  def q41e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val store = graft.TempRoots.create("graft_clusters_q41e_")
    ClusterStore.init(dupComponentsStar(minhashPairs(docs)), store)
    ClusterStore.remove(spark, store,
      docs.filter(pmod(col("doc_id"), lit(5L)) === 4).select(col("doc_id")),
      idCol = "doc_id")
    ClusterStore.read(spark, store)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("doc_id"), col("comp").as("component"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  val q41eSql: String = dupReachCte + "\n" +
    """SELECT id AS doc_id, comp AS component,
      |       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
      |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |WHERE id % 5 <> 4
      |ORDER BY doc_id""".stripMargin

  /** q68b_dedup_keep_merge: the deduplicated corpus maintained
    * INCREMENTALLY — [[q41c]]'s merged resolution taken to q68's
    * endpoint (drop non-canonical members), so the whole nightly
    * pipeline — probe, merge clusters, materialize the clean corpus —
    * is delta-proportional. Merge ≡ rebuild: SHARES q68's oracle.
    */
  def q68b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4)
    val delta = docs.filter(pmod(col("doc_id"), lit(5L)) === 4)
    val standing = dupComponentsStar(minhashPairs(corpus))
    val drops = ccMerge(standing, deltaPairList(corpus, delta))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** q74_fuzzy_name_variants: EDIT-DISTANCE near-duplicate detection over
    * the part-name DICTIONARY — every pair of distinct names within
    * Levenshtein distance 2, with how many parts carry each spelling.
    * Completes the dedup taxonomy's missing member (exact q21, minhash
    * x02, simhash x07, n-gram Jaccard x10, embedding q47 — and now
    * edit-distance, the catalog/entity-resolution workhorse).
    *
    * Scale shape — dictionary-first, the entity-resolution standard: the
    * corpus collapses map-side to DISTINCT names + counts (a name
    * dictionary is vocab-bounded, ≪ corpus), and the pair join runs on
    * the dictionary with a LENGTH-BAND equi-key — side b explodes to its
    * ±2 length band, so the join is a hash join on length, never a
    * nested-loop over dictionary², and the |len(a)−len(b)| ≤ d
    * Levenshtein lower bound prunes before any DP runs. Integer-exact
    * output: both engines' `levenshtein` is classic unit-cost edit
    * distance, identical on ASCII (D6).
    */
  /** The dictionary-first fuzzy pair core shared by [[q74]] (the pair
    * list) and [[q83]] (its cluster resolution): distinct spellings with
    * their part counts, length-band equi-joined (hash join, no nested
    * loop) and Levenshtein-verified at `maxDist`.
    */
  private def fuzzyNamePairs(
      names: DataFrame, maxDist: Int = 2): DataFrame = {
    val a = names.select(col("p_name").as("name_a"),
      col("n").as("n_parts_a"), length(col("p_name")).as("la"))
    val b = names.select(col("p_name").as("name_b"),
      col("n").as("n_parts_b"), length(col("p_name")).as("lb"))
    val bx = b.withColumn("la",
      explode(array((-maxDist to maxDist).map(d => col("lb") + d): _*)))
    a.join(bx, Seq("la"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
  }

  def q74(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    fuzzyNamePairs(names)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_parts_a"), col("n_parts_b"))
      .orderBy("name_a", "name_b")
  }

  val q74Sql: String =
    """WITH names AS (SELECT p_name, count(*) AS n FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
      |       CAST(a.n AS BIGINT) AS n_parts_a, CAST(b.n AS BIGINT) AS n_parts_b
      |FROM names a JOIN names b
      |  ON a.p_name < b.p_name AND abs(len(a.p_name) - len(b.p_name)) <= 2
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** q83_entity_resolution: the ENTITY-RESOLUTION ENDPOINT of the q74
    * fuzzy-name family — edit-distance pairs resolved into canonical
    * spelling clusters: (name, canonical_name, cluster_size, n_parts)
    * for every spelling with at least one ≤ 2-edit neighbor, where the
    * canonical spelling is the cluster's lexicographic minimum. q74
    * finds the pairs, q83 resolves them — the same find→resolve step
    * x02→q41 takes for documents, completing the dedup taxonomy's ER
    * branch (a catalog merge wants one row per entity, not a pair list).
    *
    * Scale: [[dupComponentsStar]] is id-type-agnostic — the O(log n)
    * min-rewiring rounds run directly on the STRING spellings (least/
    * greatest and the joins are plain string comparisons), over a pair
    * list that is dictionary-bounded (≪ corpus); part counts attach by
    * one equi-join on the unique spelling key. Integer-exact counts;
    * the oracle restates reachability as a RECURSIVE CTE over the same
    * Levenshtein pair definition (DuckDB's levenshtein is identical on
    * ASCII, D6).
    */
  def q83(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    val labels = dupComponentsStar(
      fuzzyNamePairs(names), aCol = "name_a", bCol = "name_b")
    labels.join(names, labels("id") === names("p_name"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("name"), col("comp").as("canonical_name"),
        col("cluster_size"), col("n").cast("long").as("n_parts"))
      .orderBy("name")
  }

  val q83Sql: String =
    """WITH RECURSIVE names AS MATERIALIZED (
      |  SELECT p_name, count(*) AS n FROM part GROUP BY p_name),
      |pairs AS MATERIALIZED (
      |  SELECT a.p_name AS na, b.p_name AS nb
      |  FROM names a JOIN names b
      |    ON a.p_name < b.p_name AND abs(len(a.p_name) - len(b.p_name)) <= 2
      |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
      |und AS MATERIALIZED (
      |  SELECT na AS s, nb AS d FROM pairs
      |  UNION
      |  SELECT nb AS s, na AS d FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.s, reach.r FROM und u JOIN reach ON u.d = reach.id)
      |SELECT id AS name, comp AS canonical_name,
      |       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size,
      |       CAST(n AS BIGINT) AS n_parts
      |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |JOIN names ON id = p_name
      |ORDER BY name""".stripMargin

  /** Incremental entity resolution — merge a delta of NEW spellings into
    * standing clusters without re-running the old×old dictionary pair
    * join (VERDICT r12 #4; q91b's merge ≡ rebuild contract for the ER
    * branch). The nightly shape: yesterday's resolution left `labels`
    * (id → canonical, clustered spellings only) and `names` (spelling →
    * part count); tonight `deltaNames` arrives. Work done here:
    *
    *  1. PROBE pairs only — genuinely-new spellings (delta anti-join the
    *     standing dictionary) length-band join against old ∪ new; the
    *     old×old Levenshtein join, the expensive quadratic-family stage,
    *     never re-runs (its connectivity is already in `labels`).
    *  2. TOUCHED-component CC only — standing components hit by no probe
    *     pair pass through verbatim (scd2Merge's untouched-keys
    *     discipline); [[dupComponentsStar]] reruns over touched star
    *     edges ∪ probe pairs, so the O(log n) rounds run on a
    *     delta-proportional edge set, not the dictionary.
    *  3. Counts merge by key — standing counts + delta counts, one
    *     state ∪ delta aggregate; the corpus is never re-scanned.
    *
    * Merge ≡ rebuild, exactly: star edges preserve old×old connectivity,
    * probe pairs add every edge with a new endpoint, and a pair between
    * two old spellings cannot appear in the delta (both ends exist in
    * the standing dictionary). A spelling RECURRING in the delta (already
    * known) adds count but no edges — its connectivity is standing.
    * q83b runs this against the q83 fixture split and shares q83's
    * oracle (spec-pinned: clusters that span the boundary, a bridged
    * pair of old clusters, and untouched pass-through).
    */
  def erMerge(
      labels: DataFrame,
      names: DataFrame,
      deltaNames: DataFrame,
      maxDist: Int = 2): DataFrame = {
    val allNames = names.select(col("p_name"), col("n"))
      .unionByName(deltaNames.select(col("p_name"), col("n")))
      .groupBy(col("p_name")).agg(sum(col("n")).as("n"))
    val probe = deltaNames.join(names, Seq("p_name"), "left_anti")
      .select(col("p_name").as("name_a"),
        length(col("p_name")).as("la"))
    val bx = allNames
      .select(col("p_name").as("name_b"), length(col("p_name")).as("lb"))
      .withColumn("la",
        explode(array((-maxDist to maxDist).map(d => col("lb") + d): _*)))
    val probePairs = probe.join(bx, Seq("la"))
      .filter(col("name_a") =!= col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("name_a"), col("name_b"))
    val touchedNames = probePairs.select(col("name_a").as("id"))
      .union(probePairs.select(col("name_b").as("id"))).distinct()
    val touchedComps = labels.join(touchedNames, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val untouched = labels.join(touchedComps, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
    // star edges of the touched components: (member, canonical) — the
    // canonical node needs no self edge, it appears as every edge's dst
    val touchedEdges = labels.join(touchedComps, Seq("comp"), "left_semi")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("name_a"), col("comp").as("name_b"))
    val rewired = dupComponentsStar(
      touchedEdges.unionByName(probePairs), aCol = "name_a", bCol = "name_b")
    val allLabels = untouched.unionByName(rewired)
    allLabels.join(allNames, allLabels("id") === allNames("p_name"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))).cast("long"))
      .select(col("id").as("name"), col("comp").as("canonical_name"),
        col("cluster_size"), col("n").cast("long").as("n_parts"))
      .orderBy("name")
  }

  /** q83b_entity_resolution_merge: [[erMerge]] over the q83 fixture with
    * odd-length spellings as the delta (the split with boundary-crossing
    * pairs at every SF — partkey splits are vacuous because spellings
    * repeat across parts). Yesterday's state is resolved from the
    * even-length dictionary in-query; the gated output is the merged
    * resolution, which equals the full rebuild — shares q83's oracle.
    */
  def q83b(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val isDelta = length(col("p_name")) % 2 === 1
    val oldNames = part.filter(!isDelta)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    val deltaNames = part.filter(isDelta)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    val standing = dupComponentsStar(
      fuzzyNamePairs(oldNames), aCol = "name_a", bCol = "name_b")
    erMerge(standing, oldNames, deltaNames)
  }

  /** q75_dup_degree: DEGREE HISTOGRAM of the near-duplicate graph —
    * (degree, n_docs) over x02's minhash pair list, the one-glance shape
    * diagnostic for a dedup run: a fat tail here is the "one hub chained
    * everything" warning that [[capClusterSizes]] and threshold tuning
    * exist for, read BEFORE committing to a cluster resolution.
    *
    * Scale: two map-side-combinable aggregates over the PAIR list (ids
    * only, a sliver of the corpus) — the corpus itself never shuffles
    * beyond x02's banded LSH pair generation. Integer-exact.
    */
  def q75(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(spark, dir))
    pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  val q75Sql: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents),
      |pairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.9),
      |und AS (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION
      |  SELECT doc_b AS s, doc_a AS d FROM pairs)
      |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
      |FROM (SELECT s, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY s)
      |GROUP BY degree
      |ORDER BY degree""".stripMargin

  /** q79_cross_source_dups: the near-dup CONTAMINATION MATRIX by source —
    * for every unordered source pair (a ≤ b) with at least one x02
    * near-dup pair across it: the pair count, both source sizes, and the
    * dup rate n_pairs / possible-pairs (n_a·n_b across two sources,
    * C(n_a, 2) within one). The provenance diagnostic read before mixing
    * crawls into a training corpus: a high CROSS rate means two
    * "different" sources are substantially the same crawl twice (dedup
    * across them before weighting either), a high WITHIN rate flags a
    * source's own boilerplate.
    *
    * Scale: the pair list (ids only — a sliver of the corpus) joins
    * twice against the 2-column (doc_id, source) projection on the
    * unique doc_id key; per-source totals are a map-side-combined count
    * whose ≤ |sources| rows attach by broadcast. Counts are exact longs;
    * the rate is ONE IEEE divide of exact longs — identical across
    * engines.
    */
  def q79(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val labeled = minhashPairs(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    labeled.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(sizes.select(
        col("source").as("source_a"), col("n").as("n_docs_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(
        col("source").as("source_b"), col("n").as("n_docs_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_docs_a").cast("long").as("n_docs_a"),
        col("n_docs_b").cast("long").as("n_docs_b"),
        (col("n_pairs").cast("double") /
          when(col("source_a") === col("source_b"),
              expr("(n_docs_a * (n_docs_a - 1)) div 2"))
            .otherwise(col("n_docs_a") * col("n_docs_b"))
            .cast("double")).as("dup_rate"))
      .orderBy("source_a", "source_b")
  }

  val q79Sql: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents),
      |pairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.9),
      |lab AS (
      |  SELECT least(da.source, db.source) AS source_a,
      |         greatest(da.source, db.source) AS source_b
      |  FROM pairs p
      |  JOIN documents da ON p.doc_a = da.doc_id
      |  JOIN documents db ON p.doc_b = db.doc_id),
      |ns AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
      |SELECT source_a, source_b,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(max(na.n) AS BIGINT) AS n_docs_a,
      |       CAST(max(nb.n) AS BIGINT) AS n_docs_b,
      |       CAST(count(*) AS DOUBLE) /
      |         CAST(CASE WHEN source_a = source_b
      |              THEN (max(na.n) * (max(na.n) - 1)) // 2
      |              ELSE max(na.n) * max(nb.n) END AS DOUBLE) AS dup_rate
      |FROM lab
      |JOIN ns na ON lab.source_a = na.source
      |JOIN ns nb ON lab.source_b = nb.source
      |GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** q80_ngram_novelty: per-document 8-gram overlap with the REST of the
    * corpus — n_grams (the doc's distinct word 8-grams), n_shared (those
    * appearing in at least one OTHER document) and shared_frac. The
    * within-corpus generalization of q65's cross-corpus decontamination,
    * and the triage signal pair-threshold dedup cannot give: a document
    * can clear every x02 pair test yet be 80% stitched from corpus
    * boilerplate. Docs shorter than 8 words have no grams and are
    * excluded (x02's shingle-less rule; q21 covers them).
    *
    * Scale: the plan is deliberately JOIN-FREE on the gram key. A gram
    * with df = 1 belongs to exactly one document, so
    * n_shared = n_grams − n_unique: one corpus pass explodes distinct
    * (doc, gram); the gram-key census agg(count, min(doc_id)) is
    * map-side-combinable, so even a corpus-universal boilerplate gram
    * pre-aggregates in every map task instead of funneling df rows
    * through one reducer (the hot-key trap of the naive
    * window-over-gram or join-back-df forms); its df = 1 slice regroups
    * by owner doc, and the final doc-key folds are map-side counts.
    * Nothing ever materializes per-(doc, gram) document frequencies.
    */
  def q80(spark: SparkSession, dir: String): DataFrame = {
    graft.ext.GraftFunctions.ensureWordNgrams(spark)
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(nativeShingles(col("text"), 8)).as("gram"))
    val census = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
    val uniq = census.filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_grams").cast("long").as("n_grams"),
        (col("n_grams") - coalesce(col("n_unique"), lit(0L)))
          .cast("long").as("n_shared"),
        ((col("n_grams") - coalesce(col("n_unique"), lit(0L))).cast("double") /
          col("n_grams").cast("double")).as("shared_frac"))
      .orderBy("doc_id")
  }

  val q80Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |         w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))) AS gram
      |  FROM d),
      |census AS (SELECT gram, count(*) AS df, min(doc_id) AS owner FROM g GROUP BY gram),
      |uniq AS (SELECT owner AS doc_id, count(*) AS n_unique FROM census WHERE df = 1 GROUP BY owner),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
      |SELECT t.doc_id,
      |       CAST(t.n_grams AS BIGINT) AS n_grams,
      |       CAST(t.n_grams - coalesce(u.n_unique, 0) AS BIGINT) AS n_shared,
      |       CAST(t.n_grams - coalesce(u.n_unique, 0) AS DOUBLE)
      |         / CAST(t.n_grams AS DOUBLE) AS shared_frac
      |FROM tot t LEFT JOIN uniq u USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** `AS MATERIALIZED` on every non-recursive CTE is load-bearing: DuckDB
    * inlines plain CTEs, so the recursive member would otherwise re-run
    * the full all-pairs shingle join on EVERY fixpoint iteration.
    */
  /** The shared reachability CTE prefix of q41/q41b/q68's oracles: exact
    * bigram-Jaccard ≥ 0.9 pairs, symmetrized, with recursive min-label
    * reachability — `reach`'s per-id minimum IS the component.
    */
  // lazy: referenced by q68Sql, which precedes this definition textually —
  // a strict val would still be null there at object init
  private lazy val dupReachCte: String =
    """WITH RECURSIVE sh AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(lower(text), ' '))),
      |           i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS s
      |  FROM documents),
      |pairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.9),
      |und AS MATERIALIZED (
      |  SELECT doc_a AS s, doc_b AS d FROM pairs
      |  UNION
      |  SELECT doc_b AS s, doc_a AS d FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.s, reach.r FROM und u JOIN reach ON u.d = reach.id)""".stripMargin

  val q41Sql: String = dupReachCte + "\n" +
    """SELECT id AS doc_id, comp AS component,
      |       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
      |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      |ORDER BY doc_id""".stripMargin

  // ---- x07: SimHash near-duplicate detection ----

  /** 64-bit SimHash signature per document: each shingle's xxhash64 votes
    * +1/-1 on every bit position; the sign of the per-bit sum becomes the
    * bit. Computed entirely per-row over the shingle array (no explode, no
    * groupBy shuffle): bit i's vote is 2·|{h : bit i set}| − |hashes|.
    */
  def simhashText(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 2): DataFrame = {
    // materialize the hash arrays before the 64 bit-vote expressions —
    // projection collapsing would otherwise inline shingling+hashing into
    // every one of them (64× recompute per row). Shingle-less docs are
    // excluded: with zero votes every bit test is 0 >= 0, so ALL such docs
    // would share the all-ones signature and pair up at Hamming 0 — route
    // them through exact dedup (q21) instead.
    graft.ext.GraftFunctions.ensureSimHashSig(docs.sparkSession)
    graft.ext.GraftFunctions.ensureWordNgrams(docs.sparkSession)
    // the 64 bit votes run in the codegen'd graft.ext.SimHashSig kernel —
    // one pass over the hash array; the interpreted 64×filter formulation
    // ([[hofSimhash]], kept for the parity test) was the dominant cost of
    // x07 at sf0.1. With `hs` referenced once by the signature projection
    // (plus once by the degenerate-doc filter), the materialization
    // exchange the 64-expression form needed is gone: recomputing one
    // in-memory transform beats shuffling the full (doc_id, hash-array)
    // rows. The one remaining exchange is shared by the chunk self-join
    // branches (ReuseExchange).
    docs.select(col(idCol).as("doc_id"),
        transform(nativeShingles(col(textCol), shingleN), s => xxhash64(s)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        call_function("simhash_sig", col("hs")).as("simhash"))
      .repartition(col("doc_id"))
  }

  /** The higher-order-function formulation of the banded minhash
    * signatures — superseded by the native MinHashBands kernel in
    * [[minhashPairs]]; retained so ExtSpec can pin the two hash-for-hash
    * equal (a mismatch would silently shift the LSH candidate set).
    */
  private[graft] def hofBandSigs(sh: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    val m = (0 until numHashes).map(i =>
      array_min(transform(sh, s => xxhash64(lit(i), s))))
    array((0 until bands).map(b =>
      xxhash64(lit(b) +: (0 until rows).map(r => m(b * rows + r)): _*)): _*)
  }

  /** The higher-order-function formulation of the SimHash bit vote —
    * superseded by the native kernel in [[simhashText]]; retained so
    * ExtSpec can pin the two bit-for-bit equal.
    */
  private[graft] def hofSimhash(hs: Column): Column = {
    val bits = (0 until 64).map { i =>
      val ones = size(filter(hs,
        h => shiftright(h, i).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 >= size(hs), lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** The pure-Column formulation of the 64 two-level bucket keys —
    * superseded by the native [[graft.ext.SimHashTables]] kernel in
    * [[simhashPairsWide]]; retained so ExtSpec can pin the two key-for-key
    * equal (a splice/shift mismatch would silently lose wide-radius
    * recall).
    */
  private[graft] def hofWideKeys(sig: Column): Column = {
    def keyExpr(j: Int, k: Int): Column = {
      val c = shiftrightunsigned(sig, j * 8).bitwiseAND(lit(0xFFL))
      // remaining 56 bits with byte j spliced out; j=7 would shift by 64,
      // which Java/Spark wrap to shift-by-0 — special-case the halves
      val low =
        if (j == 0) lit(0L)
        else sig.bitwiseAND(lit((1L << (8 * j)) - 1))
      val high =
        if (j == 7) lit(0L)
        else shiftleft(shiftrightunsigned(sig, 8 * (j + 1)), 8 * j)
      val rem = low.bitwiseOR(high)
      val sc = shiftrightunsigned(rem, k * 7).bitwiseAND(lit(0x7FL))
      lit((j * 8 + k).toLong << 15).bitwiseOR(shiftleft(c, 7)).bitwiseOR(sc)
    }
    array((for (j <- 0 until 8; k <- 0 until 8) yield keyExpr(j, k)): _*)
  }

  /** SimHash near-dup pairs at Hamming distance <= maxHamming. Candidates
    * come from a self-join on signature chunks: with `numChunks` chunks,
    * any pair within Hamming (numChunks - 1) shares at least one identical
    * chunk (pigeonhole), so recall is exact — never an all-pairs
    * comparison. More/smaller chunks widen the guaranteed radius but grow
    * the candidate set roughly as chunks·n²/2^chunkBits: the DEFAULT is the
    * scale-safe 4×16-bit / radius-3 configuration (Manku-style); 8×8-bit /
    * radius-7 is appropriate only while n/256 docs per bucket stays small —
    * past that, use [[simhashPairsWide]], the two-level exact formulation
    * [[x07]] runs (this single-level form is retained as its parity
    * baseline and as the radius-3 default path).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      numChunks: Int = 4): DataFrame = {
    // numChunks >= 2: a single 64-bit "chunk" would need mask 2^64-1
    // (1L << 64 wraps to mask 0, collapsing all docs into one bucket —
    // the all-pairs blowup), and pigeonhole needs maxHamming < numChunks
    require(numChunks >= 2 && 64 % numChunks == 0 && maxHamming < numChunks)
    val chunkBits = 64 / numChunks
    val mask = -1L >>> (64 - chunkBits)
    val sig = simhashText(docs, idCol, textCol)
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until numChunks).map(j =>
        struct(lit(j).as("j"),
          shiftright(col("simhash"), j * chunkBits).bitwiseAND(mask).as("c"))): _*))
        .as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.j").as("j"), col("ch.c").as("c"))
    val a = chunks.select(col("j"), col("c"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = chunks.select(col("j"), col("c"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("j", "c"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-radius (Hamming <= 7) SimHash pairs with TWO-LEVEL pigeonhole
    * banding — exact recall like [[simhashPairs]](maxHamming=7,
    * numChunks=8), but with 16× fewer candidate pairs and a key space of
    * 64·2^15 ≈ 2M buckets instead of 8·2^8 = 2048.
    *
    * Why: the round-10 sf1 pin measured the single-level radius-7 form at
    * 33.7× its sf0.1 time for 10× the docs — the n²/256 bucket-occupancy
    * model its own doc predicts (50k docs / 256 buckets ≈ 195 docs per
    * bucket ≈ 78M pair evaluations), and 2048 distinct join keys cap
    * shuffle parallelism at cluster scale. Pigeonhole composes: a pair
    * within Hamming 7 has ≥1 of its 8 byte-chunks equal (≤7 differing
    * bits touch ≤7 chunks), say chunk j — and then ALL differing bits lie
    * in the remaining 56 bits, so of 8 seven-bit sub-chunks of those, ≥1
    * is equal again. Every qualifying pair therefore shares at least one
    * of 64 (j,k)-table keys (chunk_j, subchunk_jk) — 15 bits — and every
    * candidate is verified by exact `bit_count(xor)`, so the output is
    * IDENTICAL to the single-level form (TextSpec pins set-equality at
    * sf0.01). Expected candidates: 64·n²/2^16 vs 8·n²/2^9 — 1/16, at the
    * cost of a 64-wide explode (bit arithmetic, codegen'd) instead of
    * 8-wide. Known residual quadratic: docs with IDENTICAL signatures
    * share all 64 keys — inherent to any LSH; route exact dups through
    * q21 first.
    */
  def simhashPairsWide(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 7): DataFrame = {
    require(maxHamming < 8, s"two-level 8x8 banding guarantees radius 7, got $maxHamming")
    graft.ext.GraftFunctions.ensureSimHashTables(docs.sparkSession)
    val sig = simhashText(docs, idCol, textCol)
    // the 64 packed (j,k)-table keys come from the native simhash_tables
    // kernel (one JVM pass; see its doc for the key layout and the
    // pigeonhole-twice exactness argument). The pure-Column formulation
    // lives on as [[hofWideKeys]], ExtSpec-pinned value-equal — it was
    // correct but its 64-expression array was a Janino compile bomb
    // (hundreds of KB of generated Java, the dominant cold cost of x07).
    val keys = sig.select(col("doc_id"), col("simhash"),
      explode(call_function("simhash_tables", col("simhash"))).as("bk"))
    val a = keys.select(col("bk"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = keys.select(col("bk"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    // SHUFFLE_HASH, not the planner's pick: statistics predate the 64-wide
    // explode, so the optimizer sees a "small" side and broadcasts the
    // ENTIRE exploded index — an n-proportional driver build/broadcast
    // (measured 8.8 s of x07's 11.4 s at the sf1 pin, and structurally
    // wrong on a cluster). Shuffling both sides on bk co-partitions ~2M
    // near-uniform keys (max occupancy 26 at sf1); hash beats sort-merge
    // because bucket joins need no order and the build side per partition
    // is corpus/parallelism, not corpus.
    a.hint("shuffle_hash").join(b, Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** x07_simhash_dedup: SimHash near-dup pairs over `documents` —
    * rows-only check; agreement with the minhash detector is pinned in
    * TextSpec. Runs the two-level [[simhashPairsWide]] formulation
    * (output-identical to single-level radius-7, 16× fewer candidates —
    * see its doc and the round-10 SCALE.md entry).
    */
  def x07(spark: SparkSession, dir: String): DataFrame =
    simhashPairsWide(Tables.documents(spark, dir), maxHamming = 7)
      .orderBy("doc_a", "doc_b")

  /** q73_vocab_coverage: the VOCABULARY COVERAGE CURVE over word
    * trigrams — what fraction of all trigram OCCURRENCES the top-k most
    * frequent trigram types cover, at k ∈ {100, 1000, 5000} — the
    * truncation-curve a tokenizer/vocab-size decision reads (and the
    * corpus-burstiness summary next to q56's per-doc tf-idf).
    *
    * Scale shape: the corpus-sized work is one explode (the one-pass
    * codegen'd `word_ngrams` kernel, multiplicity kept) feeding a
    * map-side-combinable count aggregate to TYPE cardinality; the top-k
    * cut is orderBy+limit (TakeOrdered — no global sort materialization),
    * and the ranking window runs on ≤ 5000 surviving rows (q52's bounded
    * single-partition-window argument). Totals attach by a 1-row
    * broadcast. Exactness: counts are longs, rank arithmetic is integer
    * (rn ≤ k sums make "rank k" mean min(k, |vocab|) identically in both
    * engines), coverage is one IEEE divide of exact longs.
    */
  def q73(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    graft.ext.GraftFunctions.ensureWordNgrams(spark2)
    import spark2.implicits._
    val grams = Tables.documents(spark, dir)
      .select(explode(nativeNgrams(col("text"), 3)).as("g"))
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("tot"))
    val top = counts.orderBy(desc("c"), asc("g")).limit(5000)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(desc("c"), asc("g"))))
    // each ranked row contributes to every k ≥ its rank — a map-side
    // explode of a ≤3-element filtered literal array, not a join
    ranked
      .withColumn("k", explode(filter(
        array(lit(100), lit(1000), lit(5000)), k => col("rn") <= k)))
      .groupBy(col("k"))
      .agg(sum(col("c")).as("top_tokens"),
        count(lit(1)).cast("long").as("top_types"))
      // 1-row scalar attach (the denominator) — a broadcast nested loop
      // bounded by construction, PlanSpec-exempted as such
      .crossJoin(broadcast(tot))
      .select(col("k"), col("top_types"), col("top_tokens"),
        (col("top_tokens").cast("double") / col("tot").cast("double"))
          .as("coverage"))
      .orderBy("k")
  }

  /** The same trigram expansion q65Sql uses (3-wide), counts restated
    * with a ranked CTE; rn ≤ k aggregation clamps k past |vocab|
    * identically.
    */
  val q73Sql: String =
    """WITH g AS (
      |  SELECT unnest(list_transform(range(1, len(w) - 1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)),
      |c AS (SELECT g, count(*) AS c FROM g GROUP BY g),
      |tot AS (SELECT sum(c) AS tot FROM c),
      |ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, g ASC) AS rn
      |  FROM c ORDER BY c DESC, g ASC LIMIT 5000)
      |SELECT k, CAST(count(*) AS BIGINT) AS top_types,
      |       CAST(sum(c) AS BIGINT) AS top_tokens,
      |       CAST(sum(c) AS DOUBLE) / CAST(max(tot) AS DOUBLE) AS coverage
      |FROM ranked, tot, (VALUES (100), (1000), (5000)) ks(k)
      |WHERE rn <= k
      |GROUP BY k
      |ORDER BY k""".stripMargin
}
