package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MATERIALIZED inverted index — the third standing-index lifecycle
  * after IVF ([[Vector]] ivfBuild/Search/Append/Compact) and text-LSH
  * ([[Text]] lshBuild/Probe/Append/Compact), for the retrieval family:
  * q57 builds posting lists in-query and q58/q61 re-tokenize the corpus
  * per search, which at 100 TB re-pays a corpus scan for every query.
  * Here the corpus is tokenized ONCE into a term-bucket-partitioned
  * posting store, and a search reads only its query terms' buckets — a
  * PARTITION-PRUNED scan of ~|terms|/nBuckets of the index with zero
  * corpus-sized stage (unlike the LSH probe, whose exact-verify step
  * scans the corpus shingle column: posting lookups need no
  * verification, so pruning here is total).
  *
  * Layout under `indexDir` (every table generation-committed through
  * [[graft.sources.GenCommit]] — appends touch TWO tables, and without
  * an atomic commit a crash between them silently corrupts BM25 stats):
  *  - `meta`: one row (n_buckets) — the FROZEN partitioning arity; reads
  *    and appends take it from the index, so a drift between build and
  *    probe is structurally impossible (the LSH/IVF discipline).
  *  - `stats/gen=<k>`: (n_docs, total_dl) — one row per COMMITTED
  *    generation, summed on read (BM25's N and avgdl are sums, so
  *    generation rows merge exactly); compaction collapses them to one.
  *    Token-less docs count here (they carry no postings but belong in N
  *    and avgdl — the bm25 denominator).
  *  - `postings/gen=<k>`: (term, doc_id, tf, dl, positions)
  *    DIRECTORY-PARTITIONED by `tbucket` = crc32(term) mod n_buckets,
  *    value prefixed "t" (string partition inference, ivfBuild's trick).
  *    crc32 because both the executor (`functions.crc32`) and the driver
  *    (`java.util.zip.CRC32`) compute the same IEEE CRC-32 over UTF-8
  *    bytes — query-time bucket ids are driver-side LITERALS, so the
  *    pruning is static partition pruning, not even DPP. dl is
  *    denormalized into the posting row so scoring needs no doc-length
  *    join (the one corpus-sized table a normalized layout would scan).
  *  - `commits/<k>`: the marker files; readers admit exactly the marked
  *    generations, so a crashed append is invisible AND unread.
  *
  * Tokenization is the retrieval family's contract: lowercase,
  * space-split, empty tokens dropped, position = pre-filter index
  * (q57/q58's definition).
  */
object Inverted {

  private def bucketCol(term: Column, nBuckets: Int): Column =
    concat(lit("t"), pmod(crc32(term.cast("binary")), lit(nBuckets.toLong))
      .cast("string"))

  private def bucketOf(term: String, nBuckets: Int): String = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "t" + (c.getValue % nBuckets)
  }

  /** The inverted index's lifecycle. Compaction rewrites the alive
    * postings one file per bucket and collapses the committed stats rows
    * (the delete generations' negative rows included) to their net sum.
    */
  private val InvStore = graft.sources.StandingStore("inverted index",
    "invBuild", Seq("postings", "stats"),
    scanTables = Seq("postings", "stats", graft.sources.GenCommit.TombsTable),
    fold = (spark, dir, t) =>
      if (t == "postings")
        graft.sources.StandingStore.Fold(
          graft.sources.StandingStore.alive(spark, dir, t, "doc_id")
            .repartition(col("tbucket")), "tbucket")
      else
        graft.sources.StandingStore.Fold(committedTable(spark, dir, t)
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("total_dl")).cast("long").as("total_dl"))))

  /** The shared tokenization base: (doc_id, w, dl) — computed ONCE per
    * build/append and PERSISTED across the stats and postings writes
    * (two separate write jobs cannot share an exchange, so without the
    * persist the corpus would be split/lowered twice — review r13).
    */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .withColumn("dl", size(filter(col("w"), t => t =!= "")))

  private def postingsFrom(base: DataFrame, nBuckets: Int): DataFrame =
    base
      .select(col("doc_id"), col("dl"),
        posexplode(col("w")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(bucketCol(col("term"), nBuckets).as("tbucket"),
        col("term"), col("doc_id"), col("tf"), col("dl"), col("positions"))

  private def statsFrom(base: DataFrame): DataFrame =
    base.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).cast("long").as("total_dl"))

  /** Stage one generation of (postings, stats), committed together —
    * see [[graft.sources.GenCommit]]'s scaladoc for why a plain
    * two-table append has an unfixable half-applied window.
    */
  private def stageGeneration(docs: DataFrame, nBuckets: Int,
      path: String => String): Unit = {
    val base = tokenized(docs).persist()
    try {
      postingsFrom(base, nBuckets)
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(path("postings"))
      statsFrom(base)
        .write.mode("overwrite")
        .parquet(path("stats"))
    } finally base.unpersist()
  }

  /** A table's COMMITTED rows: generations are the first partition level
    * (`<table>/gen=<k>/…`), filtered to the commit-marker set — an
    * uncommitted (crashed-append) generation is both invisible and, by
    * partition pruning, unread.
    */
  private def committedTable(spark: SparkSession, indexDir: String,
      table: String, asOfGen: Option[Long] = None): DataFrame =
    graft.sources.GenCommit.committedTable(spark, indexDir, table, asOfGen)

  def invBuild(
      docs: DataFrame,
      indexDir: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    val spark = docs.sparkSession
    InvStore.build(spark, indexDir) { path =>
      spark.range(1).select(lit(nBuckets).as("n_buckets"))
        .write.mode("overwrite").parquet(s"$indexDir/meta")
      stageGeneration(docs, nBuckets, path)
    }
  }

  private def nBucketsOf(spark: SparkSession, indexDir: String): Int =
    spark.read.parquet(s"$indexDir/meta").head().getAs[Int]("n_buckets")

  /** Delta maintenance: tokenize ONLY the delta under the frozen bucket
    * arity and commit it as a NEW GENERATION of (postings, stats) — the
    * atomic two-table append ([[graft.sources.GenCommit]]): a crash
    * anywhere leaves the generation uncommitted and therefore invisible,
    * and the retry takes a fresh id, so stats can never drift from
    * postings (review r13). Cost is delta-proportional; N/avgdl/df
    * correctness after append is exact because all three are sums over
    * disjoint doc sets (spec-pinned: append ≡ build over the union).
    * Caller owns doc_id uniqueness across COMMITTED appends, as with
    * any index.
    */
  def invAppend(
      spark: SparkSession,
      indexDir: String,
      delta: DataFrame): Unit = {
    val nBuckets = nBucketsOf(spark, indexDir)
    InvStore.append(spark, indexDir)(stageGeneration(delta, nBuckets, _))
  }

  /** TOMBSTONE delete from the standing inverted index — remove
    * documents without a rebuild (VERDICT r14 #1). One atomic generation
    * carries BOTH halves of the removal: the `tombs` table (the removed
    * ids — searches mask posting rows by [[graft.sources.GenCommit
    * .maskTombstones]]' later-generation rule) and a NEGATIVE `stats`
    * row (−n_docs, −Σdl of the removed docs — BM25's N and avgdl are
    * sums over generations, so subtraction is just another summand, the
    * same argument that made append ≡ build exact). df needs no
    * correction at all: it is counted per search on the MASKED posting
    * slice. GenCommit's two-table atomicity is what keeps stats and
    * tombstones from drifting — exactly the half-applied window the
    * module exists to close, now for deletes.
    *
    * Contract: `ids` must be CURRENT members of the index, each passed
    * once (the delete-side mirror of "caller owns doc_id uniqueness
    * across appends") — the negative stats row is computed from the
    * ids as given, and a non-member or double-deleted id would skew N.
    * The DOUBLE-DELETE half is guarded loudly (ADVICE r15 — it was the
    * silent-drift hole in the contract): an id already tombstoned and
    * not since revived fails the merge here instead of committing a
    * skewed stats row that corrupts every subsequent BM25 N/avgdl. The
    * check costs nothing while the index has no tombs table and is
    * delete-proportional after (both sides semi-joined to the delete
    * set). Never-member ids remain the caller's contract: a token-less
    * member leaves no posting rows, so membership is not representable
    * — and for the same reason a REVIVED token-less doc is
    * indistinguishable from a dead one and its re-delete is (rarely,
    * conservatively) rejected too; compact first if that case is real.
    * Σdl comes from the id's alive posting rows (token-less members
    * carry no postings and contribute dl = 0, which is also their build
    * contribution). Delete-then-re-append revives the doc: the
    * re-appended generation sits past the tombstone and its stats row
    * re-adds what the delete subtracted. [[invCompact]] folds tombstones
    * away (dead posting rows dropped, stats collapsed to the net sum,
    * tombs table removed).
    */
  def invDelete(
      spark: SparkSession,
      indexDir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Unit = {
    val del = ids.select(col(idCol).as("id")).distinct().persist()
    try {
      // the double-delete guard (see the contract above): an id whose
      // latest tombstone is NOT superseded by a later posting row is
      // already dead — deleting it again would double-subtract its
      // stats. Planned only when a tombs table exists (the common index
      // pays zero), both scans semi-joined down to the delete set before
      // aggregating, and run BEFORE the claim so a contract violation
      // burns nothing.
      graft.sources.GenCommit.committedTableIfExists(spark, indexDir,
          graft.sources.GenCommit.TombsTable).foreach { tombs =>
        val tmax = tombs.join(del, Seq("id"), "left_semi")
          .groupBy(col("id")).agg(max(col("gen")).as("__tgen"))
        val pmax = committedTable(spark, indexDir, "postings")
          .select(col("doc_id").as("id"), col("gen"))
          .join(del, Seq("id"), "left_semi")
          .groupBy(col("id")).agg(max(col("gen")).as("__pgen"))
        val dead = tmax.join(pmax, Seq("id"), "left")
          .filter(col("__pgen").isNull || col("__pgen") <= col("__tgen"))
          .limit(5).select(col("id")).collect().map(_.get(0))
        require(dead.isEmpty,
          s"invDelete: id(s) ${dead.mkString(", ")} are already " +
            "tombstoned and not since re-appended — deleting them again " +
            "would skew the index's N/avgdl (ids must be CURRENT " +
            "members, passed once)")
      }
      InvStore.delete(spark, indexDir, del, "id", Seq("stats"), { path =>
        // dl per removed id from its ALIVE posting rows (any term's row
        // carries the doc's dl — max() just picks one); ids without
        // postings (token-less members) contribute 0, matching what their
        // build generation added. The semi-join to the (small, broadcast)
        // delete set runs BELOW the aggregate (review r15): the scan stays
        // one narrow pass over the postings, but the groupBy shuffles only
        // the deleted ids' rows — delete-proportional, not corpus-wide
        val alivePost = graft.sources.GenCommit.maskTombstones(spark,
          indexDir, committedTable(spark, indexDir, "postings"), "doc_id")
        val dl = alivePost.select(col("doc_id").as("id"), col("dl"))
          .join(del, Seq("id"), "left_semi")
          .groupBy(col("id")).agg(max(col("dl")).as("dl"))
        del.join(dl, Seq("id"), "left")
          .agg((-count(lit(1))).cast("long").as("n_docs"),
            (-coalesce(sum(col("dl")), lit(0L))).cast("long").as("total_dl"))
          .write.mode("overwrite")
          .parquet(path("stats"))
      })
    } finally del.unpersist()
  }

  /** BM25 over the standing index: the query terms' bucket ids are
    * driver-side crc32 LITERALS, so the posting read is a statically
    * partition-pruned scan (plan-asserted in InvertedSpec) further
    * row-filtered to the exact terms; (N, avgdl) come from the tiny
    * stats table (summed across generations — one 1-row job); df is
    * counted on the pruned slice (one posting row per (doc, term) by
    * construction, so count per term IS document frequency). Scoring is
    * [[Text.bm25ScoreTf]] — the SAME chain [[Text.bm25]] runs, shared so
    * the index path cannot drift (driver-gated: q61c shares q61's
    * oracle). No stage of the search touches more than the query terms'
    * slice of the index.
    */
  def invSearch(
      spark: SparkSession,
      indexDir: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topN: Int = 20,
      asOfGen: Option[Long] = None): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val nBuckets = nBucketsOf(spark, indexDir)
    val buckets = terms.map(bucketOf(_, nBuckets)).distinct
    val stats = committedTable(spark, indexDir, "stats", asOfGen)
      .agg(sum(col("n_docs")).as("n"), sum(col("total_dl")).as("dl"))
      .head()
    // an index built over an empty frame commits gen 0 with n_docs=0 —
    // without this check avgdl is 0/0 = NaN and every score silently
    // NaN instead of the loud failure the module promises (ADVICE r13)
    require(stats.getLong(0) > 0L,
      s"invSearch: index at $indexDir is empty (n_docs=0) — build it " +
        "over a non-empty corpus before searching")
    val n = lit(stats.getLong(0))
    val avgdl = lit(stats.getLong(1).toDouble / stats.getLong(0).toDouble)
    // tombstone masking rides on the PRUNED slice (no cost until a
    // delete exists); df is counted downstream of the mask, so deleted
    // docs vanish from document frequency with no stored correction
    val tf = graft.sources.GenCommit.maskTombstones(spark, indexDir,
        committedTable(spark, indexDir, "postings", asOfGen)
          .filter(col("tbucket").isin(buckets: _*))
          .filter(col("term").isin(terms: _*)),
        "doc_id", asOfGen)
      .select(col("doc_id"), col("term"), col("dl"), col("tf"))
    Text.bm25ScoreTf(tf, n, avgdl, k1, b, topN)
  }

  /** Exact phrase search over the standing index: each phrase term's
    * positions come from ONE pruned posting lookup (the collapse q58's
    * scaladoc promises "against a MATERIALIZED q57 index"), adjacency is
    * the same (doc, pos+offset) equi-join chain. Returns (doc_id, pos)
    * of the phrase's first token, q58's shape (q58b shares its oracle).
    */
  def invPhrase(
      spark: SparkSession,
      indexDir: String,
      phrase: Seq[String],
      asOfGen: Option[Long] = None): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val nBuckets = nBucketsOf(spark, indexDir)
    val buckets = phrase.map(bucketOf(_, nBuckets)).distinct
    val postings = graft.sources.GenCommit.maskTombstones(spark, indexDir,
      committedTable(spark, indexDir, "postings", asOfGen)
        .filter(col("tbucket").isin(buckets: _*))
        .filter(col("term").isin(phrase.distinct: _*)),
      "doc_id", asOfGen)
    def occs(term: String, as: String) = postings
      .filter(col("term") === term)
      .select(col("doc_id").as(s"${as}_doc"),
        explode(col("positions")).as(s"${as}_pos"))
    val frames = phrase.zipWithIndex.map { case (t, i) => occs(t, s"t$i") }
    frames.tail.zipWithIndex
      .foldLeft(frames.head) { case (acc, (next, idx)) =>
        val i = idx + 1 // term i must sit i positions after the first
        acc.join(next,
          col("t0_doc") === col(s"t${i}_doc") &&
            col(s"t${i}_pos") === col("t0_pos") + i)
      }
      .select(col("t0_doc").as("doc_id"),
        col("t0_pos").cast("int").as("pos"))
      .orderBy("doc_id", "pos")
  }

  /** Small-file compaction + generation GC: the alive postings are
    * rewritten ONE FILE PER BUCKET into the single highest committed
    * generation, the committed stats collapse to one row, and the commit
    * set resets to that generation — [[graft.sources.StandingStore
    * .compact]], whose window argument covers every crash point
    * ([[invRecover]] heals interruptions and runs here on entry).
    * Contents untouched ⇒ searches bit-identical (spec-pinned).
    */
  def invCompact(spark: SparkSession, indexDir: String): Unit =
    InvStore.compact(spark, indexDir)

  /** Heal an interrupted [[invCompact]] swap — the two tables and the
    * commit set, each independently.
    */
  def invRecover(spark: SparkSession, indexDir: String): Unit =
    InvStore.recover(spark, indexDir)

  /** q61c_bm25_indexed: q61's two-term BM25 through the FULL index
    * lifecycle — build 3/5 of the corpus, append the rest under the
    * frozen bucket arity, compact (rename-aside swap included), search.
    * The index holds every document, so the result — N, avgdl, df, tf,
    * dl, scores, top-20 — is q61's exactly; SHARES q61's oracle (the
    * q71/x21b precedent: every index stage driver-gated).
    */
  def q61c(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = graft.TempRoots.create("graft_inv_q61c_")
    invBuild(docs.filter(pmod(col("doc_id"), lit(5L)) < 3), idx)
    invAppend(spark, idx, docs.filter(pmod(col("doc_id"), lit(5L)) >= 3))
    invCompact(spark, idx)
    invSearch(spark, idx, Seq("table", "hash"))
  }

  /** q61d_bm25_deleted: the TOMBSTONE-DELETE gate for the inverted index
    * (VERDICT r14 #1) — build over the full corpus, [[invDelete]] the
    * `doc_id % 5 ≥ 3` slice, search. The search must score exactly as if
    * the index had been built over the surviving 60%: N and avgdl
    * through the netted stats sum, df through the masked posting slice,
    * every per-doc score and the top-20 cut identical. Own oracle =
    * q61's SQL over the pre-filtered corpus, so one leaked dead doc (or
    * one drifted stats integer — avgdl feeds every score) mismatches
    * loudly. Delete-then-re-append stats restoration and
    * as-of-before-delete reads are spec-pinned in InvertedSpec.
    */
  def q61d(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = graft.TempRoots.create("graft_inv_q61d_")
    invBuild(docs, idx)
    invDelete(spark, idx, docs.filter(pmod(col("doc_id"), lit(5L)) >= 3))
    invSearch(spark, idx, Seq("table", "hash"))
  }

  /** q61's chain verbatim, with the corpus pre-filtered to the
    * post-delete survivors — what the tombstoned index must match.
    */
  val q61dSql: String =
    """WITH d AS (
      |  SELECT doc_id, w,
      |         len(list_filter(w, t -> t <> '')) AS dl
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents WHERE doc_id % 5 < 3)),
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

  /** q58c_phrase_deleted: the tombstone-delete gate for the POSITIONAL
    * path — build over the full corpus, [[invDelete]] the
    * `doc_id % 5 ≥ 3` slice, phrase-search. Phrase hits need no stats,
    * so this isolates the posting-mask rule on the adjacency join:
    * every occurrence of the phrase in a deleted doc must vanish, every
    * survivor's must stay, positions exact. Own oracle: q58's
    * direct-bigram-scan definition over the pre-filtered corpus.
    */
  def q58c(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = graft.TempRoots.create("graft_inv_q58c_")
    invBuild(docs, idx)
    invDelete(spark, idx, docs.filter(pmod(col("doc_id"), lit(5L)) >= 3))
    invPhrase(spark, idx, Seq("table", "hash"))
  }

  /** [[graft.ops.Text.q58Sql]]'s direct-bigram scan verbatim, over the
    * post-delete survivors.
    */
  val q58cSql: String =
    """SELECT doc_id, CAST(i AS INTEGER) AS pos FROM (
      |  SELECT doc_id,
      |         unnest(range(len(w) - 1)) AS i,
      |         unnest(list_transform(range(1, len(w)),
      |           j -> w[j] = 'table' AND w[j+1] = 'hash')) AS hit
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents WHERE doc_id % 5 < 3)
      |  WHERE len(w) > 1)
      |WHERE hit
      |ORDER BY doc_id, pos""".stripMargin

  /** q58b_phrase_indexed: q58's phrase search as two pruned posting
    * lookups against the materialized index. Deliberately searches the
    * APPENDED two-generation index WITHOUT compacting (q61c gates the
    * compacted path), so the gate also proves multi-generation bucket
    * partitions serve queries correctly. Shares q58's oracle — the
    * direct-bigram-scan definition, so the index path is verified
    * against the definition, not against q58's join technique.
    */
  def q58b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = graft.TempRoots.create("graft_inv_q58b_")
    invBuild(docs.filter(pmod(col("doc_id"), lit(5L)) < 3), idx)
    invAppend(spark, idx, docs.filter(pmod(col("doc_id"), lit(5L)) >= 3))
    invPhrase(spark, idx, Seq("table", "hash"))
  }
}
