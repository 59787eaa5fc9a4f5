package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators._

/** Training-data operators: dedup, ANN, retrieval, sampling, tokenizing,
  * text analysis and multimodal decode.
  */
object CorpusQueries {

  /** Shared by `bpe_fertility` and its complete-mode streaming face —
    * the per-word encode replay (Bpe.oracleCtes) rolled up to
    * per-source fertility; values bit-equal in both modes by
    * construction (same scan-side kernel, same fold). */
  private[queries] val bpeFertilityOracleSql: String =
    graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
      """,
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(s.n_tok) AS BIGINT) AS n_bpe,
        |    CAST(sum(CASE WHEN s.n_tok = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_single
        |  FROM words JOIN steps s USING (w) GROUP BY doc_id),
        |per AS (
        |  SELECT b.source, count(*) AS n_docs,
        |    CAST(sum(coalesce(p.n_words, 0)) AS BIGINT) AS n_words,
        |    CAST(sum(coalesce(p.n_bpe, 0)) AS BIGINT) AS n_bpe,
        |    CAST(sum(coalesce(p.n_single, 0)) AS BIGINT) AS n_single
        |  FROM base b LEFT JOIN perdoc p USING (doc_id) GROUP BY 1)
        |SELECT source, n_docs, n_words, n_bpe, n_single,
        |  CAST(n_bpe * 1000000 // greatest(n_words, 1) AS BIGINT)
        |    AS fertility_micro,
        |  CAST(n_single * 1000000 // greatest(n_words, 1) AS BIGINT)
        |    AS single_micro
        |FROM per""".stripMargin

  // greedy longest-match replay of the fixture vocabulary: one
  // recursive-CTE chain per DISTINCT word, corpus joins back through
  // the word (see functions.Bpe.oracleCtes). Shared by the batch and
  // streaming faces — the projection is identical on both paths.
  private[queries] val tokenizeBpeOracleSql: String =
    graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
      """,
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_ws, sum(s.n_tok) AS n_bpe
        |  FROM words JOIN steps s USING (w) GROUP BY doc_id)
        |SELECT b.doc_id, CAST(coalesce(p.n_ws, 0) AS BIGINT) AS n_ws,
        |  CAST(coalesce(p.n_bpe, 0) AS BIGINT) AS n_bpe,
        |  array_to_string(s1.toks, '|') AS w1_toks
        |FROM base b
        |LEFT JOIN perdoc p USING (doc_id)
        |LEFT JOIN steps s1 ON s1.w = b.ws[1]""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // exact dedup: hash-groupBy on normalized-content fingerprint
    QueryDef("dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
    },
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),

    // MinHash+LSH near-dup candidates (shingle→minhash→band→bucket-join)
    QueryDef("dedup_minhash", (s, dir) => {
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, bands = 16, rows = 4, minEstJaccard = 0.5)
    },
      // minhash/simhash fully oracled: FNV-1a + splitmix replicated in
      // HUGEINT mod-2^64 SQL (see Dedup.minhashOracleSql/simhashOracleSql)
      Dedup.minhashOracleSql(n = 3, bands = 16, rows = 4,
      minEstJaccard = 0.5)),

    // sequence packing (concat-and-chunk): per-shard running token
    // offsets → fixed 2048-token chunk assignment; window partitioned
    // by shard, never a global order-by
    QueryDef("seq_pack", (s, dir) => {
      graft.operators.Sampling.sequencePack(
        Tables.documents(s, dir), "doc_id", "text")
    },
      """WITH t AS (
        |  SELECT doc_id, doc_id % 64 AS shard,
        |    len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> ''))
        |      AS n_tok
        |  FROM documents)
        |SELECT doc_id, shard, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
        |    AS BIGINT) AS start_off,
        |  CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |    / 2048) AS BIGINT) AS chunk
        |FROM t""".stripMargin),

    // sequence packing denominated in SUBWORD tokens (the unit a
    // training run actually packs to): same per-shard window, the
    // count column is the BPE trie kernel under the fixture vocab
    QueryDef("seq_pack_bpe", (s, dir) => {
      graft.operators.Sampling.sequencePack(
        Tables.documents(s, dir), "doc_id", "text",
        tokenCount = c =>
          TextAnalysis.bpeCount(c, graft.functions.BpeFixture.vocab))
    },
      (graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
        """,
          |perdoc AS (
          |  SELECT doc_id, CAST(sum(s.n_tok) AS BIGINT) AS n_tok
          |  FROM words JOIN steps s USING (w) GROUP BY doc_id),
          |t AS (
          |  SELECT b.doc_id, b.doc_id % 64 AS shard,
          |    CAST(coalesce(p.n_tok, 0) AS BIGINT) AS n_tok
          |  FROM base b LEFT JOIN perdoc p USING (doc_id))
          |SELECT doc_id, shard, n_tok,
          |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
          |    AS BIGINT) AS start_off,
          |  CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
          |    / 2048) AS BIGINT) AS chunk
          |FROM t""".stripMargin)),

    // exact duplicated-span detection: every 120-char window, thinned
    // by content-defined md5-ends-in-'0' selection (1/16 kept; both
    // copies of any ≥135-char duplicate keep identical windows, so
    // alignment never matters) → map-side-combinable groupBy
    QueryDef("dedup_substring", (s, dir) => {
      Dedup.substringDupSpans(Tables.documents(s, dir), "doc_id", "text")
    },
      """WITH w AS (
        |  SELECT doc_id AS doc, substr(text, CAST(gs.i AS INT), 120) AS w
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 119, 0))) AS i) gs
        |)
        |SELECT w, count(*) AS n, count(DISTINCT doc) AS ndocs,
        |  min(doc) AS first_doc
        |FROM w WHERE substr(md5(w), 32, 1) = '0'
        |GROUP BY w HAVING count(DISTINCT doc) >= 2
        |ORDER BY n DESC, w LIMIT 100""".stripMargin),

    // SimHash near-dup pairs (custom simhash64 expr + banded blocking)
    QueryDef("dedup_simhash", (s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
    },
      Dedup.simhashOracleSql(maxHamming = 3)),

    // dedup cluster formation: near-dup pairs → connected components
    // (min-label propagation over the exact n-gram pairs, so the whole
    // chain is oracle-verifiable via a recursive CTE)
    QueryDef("dedup_clusters", (s, dir) => {
      // canonical composition: exact dedup → near-dup verify → cluster
      // representatives → expand members back (a dup group whose rep is
      // unclustered still forms its own cluster, labeled by the rep)
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "lang", n = 3, minJaccard = 0.5)
      val repLabels = Dedup.clusters(pairs)
      val members = Dedup.textMembers(docs, "doc_id", "text", "lang")
      members.join(repLabels, members("rep") === repLabels("doc"), "left")
        .select(members("doc"),
          coalesce(repLabels("cluster"),
            when(members("grp_n") >= 2, members("rep"))).as("cluster"))
        .filter(col("cluster").isNotNull)
    },
      """WITH RECURSIVE grp AS ( -- engine's preDedup + member map
        |  SELECT doc_id, lang, text,
        |    min(doc_id) OVER (PARTITION BY lang, lower(text)) AS rep,
        |    count(*) OVER (PARTITION BY lang, lower(text)) AS grp_n
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '') AS t
        |  FROM grp WHERE doc_id = rep),
        |sh AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |kept AS ( -- the engine's maxBucket hot-shingle guard, mirrored
        |  SELECT lang, s FROM sh GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 1024),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN kept k ON k.lang = a.lang AND k.s = a.s
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc, least(a, min(b)) AS cluster
        |  FROM reach GROUP BY a)
        |SELECT g.doc_id AS doc,
        |  coalesce(l.cluster, CASE WHEN g.grp_n >= 2 THEN g.rep END) AS cluster
        |FROM grp g LEFT JOIN labels l ON l.doc = g.rep
        |WHERE coalesce(l.cluster, CASE WHEN g.grp_n >= 2 THEN g.rep END)
        |  IS NOT NULL""".stripMargin),

    // exact n-gram Jaccard pairs (inverted-index verify path — the
    // exhaustive recall-1 fallback; dedup_verified is the scale default)
    QueryDef("dedup_ngram", (s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 3, minJaccard = 0.5)
    },
      """WITH grp AS ( -- engine's preDedup: one rep per identical lowered text
        |  SELECT doc_id, lang, text,
        |    min(doc_id) OVER (PARTITION BY lang, lower(text)) AS rep
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '') AS t
        |  FROM grp WHERE doc_id = rep),
        |sh AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |kept AS ( -- the engine's maxBucket hot-shingle guard, mirrored
        |  SELECT lang, s FROM sh GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 1024),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        |  JOIN kept k ON k.lang = a.lang AND k.s = a.s
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5""".stripMargin),

    // the default near-dup composition at scale: MinHash-LSH candidate
    // filter → exact per-pair shingle-set Jaccard verify (no inverted
    // index; verifier cost scales with candidates, not corpus²)
    QueryDef("dedup_verified", (s, dir) => {
      Dedup.nearDupVerified(Tables.documents(s, dir), "doc_id", "text",
        n = 3, bands = 16, rows = 4, minJaccard = 0.5)
    },
      Dedup.nearDupVerifiedOracleSql(n = 3, bands = 16,
      rows = 4, minJaccard = 0.5)),

    // the FLAGSHIP 100 TB dedup pipeline, end to end: exact dedup (reps)
    // → LSH candidate filter → exact per-pair verify → connected
    // components over verified pairs → expand members back to docs
    QueryDef("dedup_clusters_verified", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDupVerified(docs, "doc_id", "text",
        minJaccard = 0.5)
      val repLabels = Dedup.clusters(pairs)
      val members = Dedup.textMembersGlobal(docs, "doc_id", "text")
      members.join(repLabels, members("rep") === repLabels("doc"), "left")
        .select(members("doc"),
          coalesce(repLabels("cluster"),
            when(members("grp_n") >= 2, members("rep"))).as("cluster"))
        .filter(col("cluster").isNotNull)
    },
      Dedup.verifiedClustersOracleSql(n = 3,
      bands = 16, rows = 4, minJaccard = 0.5)),

    // leakage-safe train/eval split: the split draw is keyed on the
    // near-dup CLUSTER (verified pipeline labels; exact-dup groups and
    // singletons fall back to rep/own id), so two near-duplicate docs
    // can NEVER straddle the train/eval boundary — the eval-set
    // contamination channel a doc_id-keyed split leaves open. One md5
    // draw per doc on top of the already-pinned cluster pipeline
    QueryDef("split_leakage_safe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDupVerified(docs, "doc_id", "text",
        minJaccard = 0.5)
      val repLabels = Dedup.clusters(pairs)
      val members = Dedup.textMembersGlobal(docs, "doc_id", "text")
      members.join(repLabels, members("rep") === repLabels("doc"), "left")
        .select(members("doc").as("doc_id"),
          coalesce(repLabels("cluster"),
            when(members("grp_n") >= 2, members("rep")),
            members("doc")).as("split_key"))
        .withColumn("is_train",
          Sampling.hashFraction(col("split_key"), "split") < 0.9)
    },
      Dedup.leakageSafeSplitOracleSql(trainFrac = 0.9)),

    // brute-force cosine top-k ANN baseline
    QueryDef("ann_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |           FROM embeddings WHERE vec_id < 8),
        |sims AS (
        |  SELECT q.q_id, c.vec_id AS neighbor,
        |    round(list_cosine_similarity(q.q_emb, c.embedding), 4) AS sim
        |  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sim DESC, neighbor) AS rk
        |  FROM sims)
        |SELECT q_id, rk, neighbor, sim FROM ranked WHERE rk <= 5""".stripMargin),

    // LSH-bucketed ANN (scale path; recall<1 by design → rows-only check)
    QueryDef("ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      // multi-probe LSH fully oracled: the deterministic plane matrix embeds
      // as SQL literals (see Similarity.lshOracleSql)
      Similarity.lshOracleSql(nPlanes = 8, dim = 64, k = 5)),

    // product-quantization ANN (PQ-ADC): 4-byte codes replace 256-byte
    // float vectors on the scan; per-query integer lookup tables score
    // codes only — the memory-bound billion-vector layout (compose with
    // ivf cells for IVF-PQ). Deterministic first-ksub codebooks +
    // integer micro-L2² make the whole pipeline oracle-exact
    QueryDef("ann_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.pqOracleSql(k = 5, m = 8, ksub = 16, dim = 64)),

    // IVF-PQ composition (the production layout): coarse cell filter
    // prunes the codes scan to the probed cells, ADC scores codes only,
    // and each probed cell contributes at most maxPerCell candidates
    // (deterministic truncation — rank by (dist, id) — so the oracle
    // replays it exactly)
    QueryDef("ann_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nlist = 16, nprobe = 4, maxPerCell = 8)
    },
      Similarity.ivfPqOracleSql(k = 5, nlist = 16, nprobe = 4,
      m = 8, ksub = 16, dim = 64, maxPerCell = 8)),

    // scalar-quantized ANN (SQ8): per-dim byte codes over uniform
    // min/max levels — scalar quantization IS product quantization with
    // 1-dim subspaces, so this is pqTopK with m=dim, ksub=256 and the
    // level-ladder codebook; both PQ kernels and the join-free plan
    // reused unchanged
    QueryDef("ann_sq8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.sq8OracleSql(k = 5, dim = 64, nlevels = 256)),

    // binary-quantization ANN: sign-bit codes (two 32-bit words/vector),
    // Hamming popcount distance — the cheapest quantization rung. Zero
    // arithmetic in the code path (a float sign test), so ranks are
    // oracle-exact by construction
    QueryDef("ann_hamming", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
    },
      Similarity.hammingOracleSql(k = 5, dim = 64)),

    // two-stage quantized retrieval: binary sign codes nominate nCand
    // candidates per query (8 B/vector scan), exact cosine re-scores
    // only the |q|·nCand candidate rows — the production rerank
    // composition that recovers the recall binary codes trade away
    // while keeping the corpus scan byte-bound
    QueryDef("ann_hamming_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingRerankTopK(emb, emb.filter(col("vec_id") < 8),
        k = 5, nCand = 20)
    },
      Similarity.hammingRerankOracleSql(k = 5, nCand = 20, dim = 64)),

    // recall@k audit of the PQ index vs the exact ranking — the metric
    // a platform measures before committing a corpus to an index
    // layout; both legs are the existing oracled operators, so the
    // metric itself is oracle-replayable
    QueryDef("ann_recall_audit", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annRecallAudit(emb, emb.filter(col("vec_id") < 8), k = 10)
    },
      Similarity.recallAuditOracleSql(k = 10)),

    // embedding-cosine near-dup pairs within label blocks (banded sign-bit
    // LSH candidates → capped buckets → exact-cosine verify)
    QueryDef("emb_neardup", (s, dir) => {
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir), "label",
        threshold = 0.3, sampleMod = 1)
    },
      // banded-LSH pipeline fully oracled: deterministic planes embed as
      // literals, maxBucket guard mirrored (see Similarity.embNearDupOracleSql)
      Similarity.embNearDupOracleSql(threshold = 0.3)),

    // SemDeDup-style semantic dedup: coarse cells (deterministic
    // quantizer, adaptive nlist) -> capped within-cell pairing -> drop
    // the higher id of every tau-close pair
    QueryDef("dedup_semantic", (s, dir) => {
      Similarity.semDedup(Tables.embeddings(s, dir), tau = 0.3)
    },
      Similarity.semDedupOracleSql(tau = 0.3)),

    // Gopher rule battery: the 7-flag quality gate per document
    QueryDef("quality_gopher", (s, dir) => {
      TextAnalysis.gopherQuality(Tables.documents(s, dir), "doc_id", "text")
    },
      TextAnalysis.gopherOracleSql),

    // corpus-trained bigram LM scoring (CCNet-style perplexity signal)
    QueryDef("lm_score", (s, dir) => {
      LanguageModel.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
    },
      LanguageModel.bigramOracleSql),

    // per-doc top-k terms by tf-idf (keyword extraction)
    QueryDef("tfidf_topk", (s, dir) => {
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text")
    },
      TextAnalysis.tfidfOracleSql()),

    // BM25 ranked retrieval: top-k docs per keyword query (queries =
    // first-3-distinct-token keyword sets of docs 0-7). Query terms
    // broadcast and prune the token stream scan-side; per-term integer
    // micro-scores sum order-free per (query, doc)
    QueryDef("bm25_topk", (s, dir) => {
      // r16: single-pass form — the direct bm25TopK tokenizes the
      // corpus twice (eager stats collect + matched scan); the narrowed
      // (doc_id, dl, query-term occurrences) checkpoint tokenizes once.
      // Scoring inputs value-identical (oracle unchanged).
      val docs = Tables.documents(s, dir)
      TextAnalysis.bm25TopKSingleScan(docs, "doc_id", "text",
        TextAnalysis.keywordQueries(docs, "doc_id", "text"))
    },
      TextAnalysis.bm25OracleSql()),

    // RAG passage retrieval — the composition a retrieval pipeline
    // actually runs: chunk_tokens' sliding windows become the retrieval
    // units and BM25 ranks passages per query. Passage identity rides
    // as doc_id·1e6 + chunk_idx through the generic scorer (bounded:
    // chunk_idx < 1e6 ⇔ docs under ~48M whitespace tokens) and splits
    // back in the result
    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    // and the cosine-ANN semantic leg (vec_id = doc_id contract) —
    // exact integer 1e9 div (60 + rank) contributions, so fused ranks
    // replay bit-for-bit given two oracle-exact legs
    QueryDef("hybrid_retrieve", (s, dir) => {
      TextAnalysis.hybridRetrieve(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nLeg = 10)
    },
      TextAnalysis.hybridRetrieveOracleSql(k = 5, nLeg = 10)),

    // the production hybrid composition: same RRF fusion, but the
    // semantic leg is the PQ-ADC index (codes-only scan) instead of
    // brute-force floats — RRF consumes ranks only, so the leg swap
    // needs no score calibration; oracled via the SAME pqRankedCtes
    // replay the standalone ann_pq gate checks
    QueryDef("hybrid_retrieve_pq", (s, dir) => {
      TextAnalysis.hybridRetrieve(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nLeg = 10,
        semLeg = (c, q, n) => Similarity.pqTopK(c, q, n))
    },
      TextAnalysis.hybridRetrievePqOracleSql(k = 5, nLeg = 10)),

    // MMR diversity re-rank: greedy maximal-marginal-relevance
    // selection over each query's BM25 candidates — integer RRF-unit
    // relevance minus penaltyWeight x micro-cosine to the already-
    // selected set; the greedy loop runs once per query in a bounded
    // kernel and the oracle replays it with a recursive CTE
    QueryDef("mmr_rerank", (s, dir) => {
      TextAnalysis.mmrRerank(Tables.documents(s, dir),
        Tables.embeddings(s, dir), k = 5, nCand = 12)
    },
      TextAnalysis.mmrOracleSql(k = 5, nCand = 12)),

    QueryDef("rag_retrieve", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // single-scan composition (r15, the hybrid_retrieve cure applied
      // here too): bm25TopK's corpus-stats agg and its matched-token
      // scan each rebuilt + re-tokenized EVERY chunk window — the
      // chunk explode is the most expensive projection in the engine,
      // and it ran twice. Materialize the (pid, t, dl) chunk token
      // projection once (localCheckpoint, the dsirResample lesson) and
      // feed bm25TopKFromToks — scoring arithmetic identical, oracle
      // unchanged.
      // r16 narrowing (VERDICT r15 #4, guide §2.3): the checkpoint held
      // every token of every chunk window (~corpus bytes). The scorer
      // needs only (pid, dl, query-term occurrences); the query-term
      // set is ≤ 8·3 terms BY CONSTRUCTION — collect it once (bounded
      // broadcast-equivalent) and filter the token arrays scan-side.
      // dl stays the UNfiltered size; tf/df/nd values are unchanged.
      val qs = TextAnalysis.keywordQueries(docs, "doc_id", "text")
      val qTerms = qs.select(explode(col("qt")).as("term")).distinct()
        .collect().map(_.getString(0)).toSeq
      val keep: Column => Column =
        if (qTerms.isEmpty) _ => lit(false) else t => t.isin(qTerms: _*)
      // r16 second pass: the scorer never sees chunk_text — only its
      // lowered tokens and their count — so each chunk's token array is
      // a SLICE of the doc's token array. The old composition built
      // ~1.33x corpus bytes of chunk text (array_join over the
      // case-preserving token slices) only to lower + re-split it per
      // chunk. Window arithmetic replicated from chunkByTokens
      // verbatim; boundary/lowercasing commutation (incl. final-sigma
      // context) pinned by ChunkTokenSliceParitySpec; oracle unchanged.
      val stride = 48 // chunkTokens 64 − overlapTokens 16
      val ctoks = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .withColumn("__n", size(col("__toks")).cast("long"))
        .filter(col("__n") > 0)
        .withColumn("chunk_idx", explode(sequence(lit(0L),
          greatest(lit(1L),
            expr(s"(__n - 16 + ${stride - 1}) div $stride")) - 1)))
        .select((col("doc_id") * lit(1000000L) + col("chunk_idx")).as("doc_id"),
          slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(64)).as("t0"))
        .select(col("doc_id"), filter(col("t0"), keep).as("t"),
          size(col("t0")).cast("long").as("dl"))
        .localCheckpoint()
      TextAnalysis.bm25TopKFromToks(ctoks, qs)
        .select(col("query_id"), col("rk"),
          expr("doc_id div 1000000").as("doc_id"),
          (col("doc_id") % lit(1000000L)).as("chunk_idx"),
          col("mscore"))
    },
      TextAnalysis.ragRetrieveOracleSql()),

    // language-ID heuristic (marker stopword argmax)
    QueryDef("langid", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("predicted"))
    },
      ("SELECT doc_id, lang, predicted FROM " +
        graft.operators.TextAnalysis.langIdSql("text"))),

    // quality scoring + token counting — staged select so the token
    // array (a non-cheap HOF alias) is built once per row and every
    // nToks reference in the score arithmetic is a plain attribute
    QueryDef("text_quality", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"),
          size(col("toks")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
          TextAnalysis.qualityScoreFrom(length(col("text")), col("n_tokens"),
            TextAnalysis.charClassCount(col("text"), "[A-Za-z]"),
            TextAnalysis.charClassCount(col("text"), "[0-9]"))
            .as("quality"))
    },
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '')) AS n_tokens,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords,
        |    length(text) AS n_chars,
        |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
        |    len(regexp_extract_all(text, '[0-9]')) AS n_digit
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_subwords,
        |  -- all constants forced to DOUBLE: DuckDB decimal literals would
        |  -- do exact-decimal arithmetic and diverge from Spark by 1 ulp
        |  floor((
        |    (CASE WHEN n_tokens >= 50 AND n_tokens <= 100000 THEN 1.0::DOUBLE
        |          WHEN n_tokens >= 10 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END) * 0.4::DOUBLE +
        |    (CASE WHEN n_tokens > 0
        |          AND CAST(n_chars AS DOUBLE)/n_tokens >= 3
        |          AND CAST(n_chars AS DOUBLE)/n_tokens <= 12
        |          THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END) * 0.2::DOUBLE +
        |    (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.3::DOUBLE +
        |    (1.0::DOUBLE - CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.1::DOUBLE
        |  ) * 1e6) / 1e6 AS quality
        |FROM base""".stripMargin),

    // document fingerprinting (md5 of normalized content)
    QueryDef("text_fingerprint", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    },
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),

    // multimodal: binary payload + metadata + batch feature extraction
    QueryDef("multimodal_features", (s, dir) => {
      val media = Multimodal.synthMedia(Tables.documents(s, dir))
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("content_sha"), col("frames_sampled"))
    },
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |                  ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  CASE doc_id % 3
        |    WHEN 2 THEN octet_length(encode(text)) // 1024 + 1
        |    WHEN 1 THEN octet_length(encode(text)) // 4096 + 1
        |    ELSE 1 END AS frames_sampled
        |FROM documents""".stripMargin),

    // multimodal: frame sampling over video payloads
    QueryDef("multimodal_frames", (s, dir) => {
      val media = Multimodal.synthMedia(Tables.documents(s, dir))
      Multimodal.sampleFrames(media, everyNth = 3)
    },
      """SELECT doc_id AS media_id,
        |  CAST(f.i AS INT) AS frame_no,
        |  CAST(f.blk AS INT) AS block_offset_kib
        |FROM documents,
        |LATERAL (
        |  SELECT row_number() OVER (ORDER BY blk) - 1 AS i, blk
        |  FROM (SELECT unnest(list_filter(
        |    range(octet_length(encode(text)) // 1024 + 1),
        |    x -> x % 3 = 0)) AS blk)
        |) f
        |WHERE doc_id % 3 = 2""".stripMargin),

    // multimodal REAL image round-trip: per-doc PNG encoded with
    // javax.imageio (two id-derived colors, even width) → decoded with
    // javax.imageio → dimensions + exact per-channel means, which the
    // oracle derives in closed form from doc_id
    QueryDef("multimodal_image_decode", (s, dir) => {
      Multimodal.decodeImages(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "image"))
    },
      // real-codec round-trips: the engine encodes AND decodes with the
      // actual JDK codecs; the oracle knows what the decode must yield
      // because the fixture's pixel/sample content is closed-form in id
      """SELECT doc_id AS media_id,
        |  CAST(8 + (doc_id % 8) * 2 AS INT) AS width,
        |  CAST(8 + (doc_id % 5) * 2 AS INT) AS height,
        |  ((doc_id % 256) + (doc_id * 3 % 256)) / 2.0 AS mean_r,
        |  ((doc_id * 7 % 256) + (doc_id * 11 % 256)) / 2.0 AS mean_g,
        |  ((doc_id * 13 % 256) + (doc_id * 17 % 256)) / 2.0 AS mean_b
        |FROM documents""".stripMargin),

    // multimodal REAL audio round-trip: per-doc RIFF-WAVE (16-bit mono
    // PCM, 8 kHz, id-derived length and constant sample) encoded and
    // decoded with javax.sound.sampled; format/frames/duration/first
    // sample all closed-form for the oracle
    QueryDef("multimodal_audio_decode", (s, dir) => {
      Multimodal.decodeAudio(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "audio"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits,
        |  CAST(1 AS INT) AS channels,
        |  800 + doc_id % 800 AS n_frames,
        |  (800 + doc_id % 800) / 8.0 AS dur_ms,
        |  CAST((doc_id % 100) * 64 AS INT) AS first_sample
        |FROM documents""".stripMargin),

    // multimodal REAL video round-trip: per-doc MJPEG-in-AVI written by
    // the fixture (RIFF container + JDK-imageio JPEG frames, all fields
    // id-derived) → RIFF walk + per-frame JPEG decode; header facts,
    // frame counts, and decoded dimensions closed-form for the oracle
    QueryDef("multimodal_video_decode", (s, dir) => {
      Multimodal.decodeVideo(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "video"))
    },
      // every header field, frame count, and decoded dimension of the
      // MJPEG-AVI fixture is a closed-form function of doc_id; JPEG pixel
      // VALUES are lossy and stay out of the contract
      """SELECT doc_id AS media_id,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS width,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS height,
        |  CAST(2 + doc_id % 4 AS INT) AS n_frames,
        |  CAST(40000 + (doc_id % 5) * 20000 AS BIGINT) AS us_per_frame,
        |  CAST((2 + doc_id % 4) * (40000 + (doc_id % 5) * 20000) // 1000
        |    AS BIGINT) AS dur_ms,
        |  CAST(2 + doc_id % 4 AS INT) AS frames_decoded,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS first_w,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS first_h
        |FROM documents""".stripMargin),

    // multimodal REAL keyframe sampling: decode only every 2nd AVI
    // frame — the production "sample then decode" order (never decode
    // what the sample drops)
    QueryDef("multimodal_video_frames", (s, dir) => {
      Multimodal.sampleVideoFrames(
        Multimodal.synthEncodedMedia(Tables.documents(s, dir), "video"),
        everyNth = 2)
    },
      """SELECT doc_id AS media_id,
        |  CAST(f AS INT) AS frame_no,
        |  CAST(16 + (doc_id % 4) * 8 AS INT) AS frame_w,
        |  CAST(8 + (doc_id % 3) * 8 AS INT) AS frame_h
        |FROM documents,
        |LATERAL (SELECT unnest(range(0, 2 + doc_id % 4, 2)) AS f) t""".stripMargin),

    // IVF-Flat ANN: coarse-quantized cells + nprobe probing (the scale
    // path next to ann_lsh; fully oracle-checked — the quantizer is
    // deterministic)
    QueryDef("ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nlist = 16, nprobe = 4)
    },
      """WITH cb AS (
        |  SELECT list(embedding ORDER BY vec_id) AS ce
        |  FROM embeddings WHERE vec_id < 16),
        |simd AS (
        |  SELECT e.vec_id, e.embedding,
        |    list_transform(cb.ce, x -> list_cosine_similarity(e.embedding, x))
        |      AS sims
        |  FROM embeddings e, cb),
        |assigned AS (
        |  SELECT vec_id, embedding,
        |    list_position(sims, list_max(sims)) - 1 AS cl
        |  FROM simd),
        |qp AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb,
        |    unnest(list_transform(list_sort(list_transform(range(16),
        |        i -> {'ns': -sims[i + 1], 'i': i})),
        |      x -> x.i)[1:4]) AS probe
        |  FROM simd WHERE vec_id < 8),
        |cands AS (
        |  SELECT qp.q_id, a.vec_id AS neighbor,
        |    round(list_cosine_similarity(qp.q_emb, a.embedding), 4) AS sim
        |  FROM assigned a JOIN qp ON a.cl = qp.probe AND a.vec_id <> qp.q_id),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY sim DESC, neighbor) AS rk
        |  FROM cands)
        |SELECT q_id, rk, neighbor, sim FROM ranked WHERE rk <= 5""".stripMargin),

    // flagship LLM-data-prep composition: language-ID → quality filter →
    // exact near-dup removal (fingerprint keep-first) → per-language
    // token accounting. One declarative plan: scan-side scoring (no
    // shuffle), ONE shuffle for the dedup window, one partial-agg'd
    // groupBy — the canonical pretraining-corpus pass at 100 TB
    QueryDef("llm_prep", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          TextAnalysis.langIdFromTokens(col("toks")).as("lang_pred"),
          TextAnalysis.qualityScoreFrom(length(col("text")), size(col("toks")),
            TextAnalysis.charClassCount(col("text"), "[A-Za-z]"),
            TextAnalysis.charClassCount(col("text"), "[0-9]"))
            .as("quality"),
          size(col("toks")).as("n_tokens"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val kept = scored.filter(col("quality") >= 0.5)
      val deduped = kept.withColumn("rn",
          row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      deduped.groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"),
          min(col("quality")).as("min_q"),
          max(col("quality")).as("max_q"))
    },
      // the text_quality oracle's arithmetic (constants forced DOUBLE, floor
      // quantization) + langid oracle + dedup_exact fingerprint, composed
      (s"""WITH li AS (SELECT doc_id, text, predicted FROM ${TextAnalysis.langIdSql("text")}),
        |sc AS (
        |  SELECT doc_id, predicted,
        |    len(list_filter(string_split_regex(lower(text), '[\\s\\x0B]+'), x -> x <> '')) AS n_tokens,
        |    length(text) AS n_chars,
        |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
        |    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\\s\\x0B]', '', 'g'), '[\\s\\x0B]+', ' ', 'g'))) AS fp
        |  FROM li),
        |q AS (
        |  SELECT *, floor((
        |    (CASE WHEN n_tokens >= 50 AND n_tokens <= 100000 THEN 1.0::DOUBLE
        |          WHEN n_tokens >= 10 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END) * 0.4::DOUBLE +
        |    (CASE WHEN n_tokens > 0
        |          AND CAST(n_chars AS DOUBLE)/n_tokens >= 3
        |          AND CAST(n_chars AS DOUBLE)/n_tokens <= 12
        |          THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END) * 0.2::DOUBLE +
        |    (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.3::DOUBLE +
        |    (1.0::DOUBLE - CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.1::DOUBLE
        |  ) * 1e6) / 1e6 AS quality FROM sc),
        |kept AS (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM q WHERE quality >= 0.5)
        |SELECT predicted AS lang_pred, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  min(quality) AS min_q, max(quality) AS max_q
        |FROM kept WHERE rn = 1 GROUP BY 1""".stripMargin)),

    // LLM-prep: deterministic training-order shuffle — every doc gets a
    // pseudo-random (shard, pos); one hash shuffle + per-shard sort,
    // window PARTITIONED BY SHARD (never a global row_number — see
    // Sampling.trainingShuffle)
    QueryDef("sample_shuffle", (s, dir) => {
      Sampling.trainingShuffle(
          Tables.documents(s, dir).select("doc_id", "lang"),
          keyCol = "doc_id", nShards = 16, salt = "e0-")
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
    },
      // md5-derived shard and order key replayed exactly; row_number ties
      // broken by doc_id on both sides
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('e0-shard:' || doc_id), 1, 2))::BIGINT
        |      % 16 AS INT) AS shard,
        |    md5('e0-order:' || doc_id) AS ord
        |  FROM documents)
        |SELECT doc_id, lang, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS BIGINT) AS pos
        |FROM s""".stripMargin),

    // deterministic stratified hash-bucket sampling (Sampling.scala): the
    // reproducible-across-engines sample every pipeline debug/eval loop
    // needs — row-level output so the oracle verifies the exact selection
    QueryDef("sample_stratified", (s, dir) => {
      Sampling.stratifiedHashSample(Tables.documents(s, dir),
          stratumCol = "lang", keyCol = "doc_id",
          numerator = 64, digits = 2, salt = "graft")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    },
      s"""SELECT doc_id, lang,
        |  len(list_filter(string_split_regex(lower(text), '[\\s\\x0B]+'), x -> x <> '')) AS n_tokens
        |FROM documents
        |WHERE ${Sampling.hashBucketSql("lang || ':' || doc_id",
             numerator = 64, digits = 2, salt = "graft")}""".stripMargin),

    // LLM-prep: domain-mixture downsampling — per-source keep rates
    // (web-crawl thinned, curated kept) as one flat CaseWhen rate table
    // + the md5 draw; a pushable scan-side filter, zero shuffle
    QueryDef("sample_domain_mix", (s, dir) => {
      Sampling.domainMixSample(Tables.documents(s, dir),
          domainCol = "source", keyCol = "doc_id",
          rates = Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 1.0),
          defaultRate = 0.6, salt = "graft-mix")
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      s"""SELECT doc_id, source, n_chars FROM documents
        |WHERE ${Sampling.hashFractionSql("doc_id", salt = "graft-mix")} <
        |  CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.0
        |              WHEN 'src2' THEN 1.0 ELSE 0.6 END""".stripMargin),

    // LLM-prep: sliding token-window chunking (chunk 64, overlap 16) —
    // consecutive chunks share exactly the overlap, every token covered,
    // narrow explode/slice plan
    QueryDef("chunk_tokens", (s, dir) => {
      Sampling.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[\s\x0B]+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks, n,
        |  unnest(range(0, greatest(1, (n - 16 + 47) // 48))) AS chunk_idx
        |  FROM n)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64), ' ') AS chunk_text,
        |  CAST(least(64, n - chunk_idx*48) AS INT) AS n_tokens
        |FROM e""".stripMargin),

    // the same sliding window denominated in SUBWORD tokens — the unit a
    // RAG/pretraining context window is actually budgeted in (a 64-BPE
    // window is NOT a 64-word window; whitespace counts understate
    // subword length ~2x on this vocab). Tokens come casefolded from the
    // BPE trie kernel; window arithmetic identical
    QueryDef("chunk_tokens_bpe", (s, dir) => {
      Sampling.chunkByTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16,
        tokens = c =>
          TextAnalysis.bpeEncode(c, graft.functions.BpeFixture.vocab))
    },
      // the recursive-CTE greedy encode (steps: per distinct word) composes
      // with the window oracle: per-doc ordered token stream = the per-word
      // token lists flattened in word order, then identical slice windows
      (graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
        """,
          |wo AS (SELECT doc_id, unnest(ws) AS w,
          |         generate_subscripts(ws, 1) AS wi FROM base),
          |docs AS (
          |  SELECT doc_id,
          |    flatten(list(s.toks ORDER BY wi)) AS toks
          |  FROM wo JOIN steps s USING (w) GROUP BY doc_id),
          |n AS (SELECT doc_id, toks, len(toks) AS n FROM docs
          |      WHERE len(toks) > 0),
          |e AS (SELECT doc_id, toks, n,
          |  unnest(range(0, greatest(1, (n - 16 + 47) // 48))) AS chunk_idx
          |  FROM n)
          |SELECT doc_id, chunk_idx,
          |  array_to_string(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64), ' ') AS chunk_text,
          |  CAST(least(64, n - chunk_idx*48) AS INT) AS n_tokens
          |FROM e""".stripMargin)),

    // LLM-prep: epoch-weighted upsampling — weight w ⇒ floor(w) copies
    // + one more for a hash-chosen frac(w) share, expected multiplicity
    // exactly w; deterministic copy index for downstream seeding
    QueryDef("sample_upsample", (s, dir) => {
      Sampling.upsampleByWeight(Tables.documents(s, dir),
          domainCol = "lang", keyCol = "doc_id",
          weights = Map("de" -> 2.5, "zh" -> 3.0, "en" -> 0.8),
          defaultWeight = 1.0, salt = "graft-epoch")
        .select(col("doc_id"), col("lang"), col("copy"))
    },
      s"""WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'de' THEN 2.5 WHEN 'zh' THEN 3.0
        |              WHEN 'en' THEN 0.8 ELSE 1.0 END AS wt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(wt) AS BIGINT) + CASE WHEN
        |      ${Sampling.hashFractionSql("doc_id", salt = "graft-epoch")}
        |        < wt - floor(wt) THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, lang, unnest(range(0, n)) AS copy
        |FROM c WHERE n > 0""".stripMargin),

    // Gopher-style repetition signals: duplicate word-bigram/trigram
    // fractions per doc — scan-side zip-shift n-grams, no explode, no
    // shuffle; the boilerplate/generation-loop filter of a corpus pass
    QueryDef("text_repetition", (s, dir) => {
      // staged selects: toks/bi/tri are multiply-referenced non-cheap
      // aliases, so CollapseProject leaves each in its own projection —
      // one tokenization + one gram build per row instead of one per
      // output column
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextAnalysis.wordNgrams(col("toks"), 2).as("bi"),
          TextAnalysis.wordNgrams(col("toks"), 3).as("tri"))
        .select(col("doc_id"),
          size(col("bi")).as("n_bigrams"),
          TextAnalysis.dupFrac(col("bi")).as("dup_bigram_frac"),
          TextAnalysis.dupFrac(col("tri")).as("dup_trigram_frac"))
    },
      // zip-shift n-grams mirrored as 1-based list_transform over range();
      // range(1, n) excludes n, greatest(…, 1) voids the 0/1-token edge
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS bi,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
        |  FROM t)
        |SELECT doc_id,
        |  len(bi) AS n_bigrams,
        |  CASE WHEN len(bi) > 0 THEN
        |    floor((1.0::DOUBLE - CAST(len(list_distinct(bi)) AS DOUBLE)/len(bi)) * 1e6)/1e6
        |  ELSE 0.0::DOUBLE END AS dup_bigram_frac,
        |  CASE WHEN len(tri) > 0 THEN
        |    floor((1.0::DOUBLE - CAST(len(list_distinct(tri)) AS DOUBLE)/len(tri)) * 1e6)/1e6
        |  ELSE 0.0::DOUBLE END AS dup_trigram_frac
        |FROM g""".stripMargin),

    // near-dup resolution policy: canonical-doc selection — keep the
    // HIGHEST-QUALITY member of each exact-dup group (not keep-first),
    // the usual crawl-dedup policy when mirrors differ in truncation.
    // One shuffle (the fp window); group_size rides the same window.
    QueryDef("dedup_canonical", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.qualityScoreFrom(length(col("text")), col("n_tokens"),
            TextAnalysis.charClassCount(col("text"), "[A-Za-z]"),
            TextAnalysis.charClassCount(col("text"), "[0-9]"))
            .as("quality"))
      val byFp = Window.partitionBy(col("fp"))
      scored
        .withColumn("rn", row_number().over(
          byFp.orderBy(col("quality").desc, col("doc_id").asc)))
        .withColumn("group_size", count(lit(1)).over(byFp))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("fp"), col("quality"), col("group_size"))
    },
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '')) AS n_tokens,
        |    length(text) AS n_chars,
        |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
        |    len(regexp_extract_all(text, '[0-9]')) AS n_digit
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
        |    floor((
        |      (CASE WHEN n_tokens >= 50 AND n_tokens <= 100000 THEN 1.0::DOUBLE
        |            WHEN n_tokens >= 10 THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END) * 0.4::DOUBLE +
        |      (CASE WHEN n_tokens > 0
        |            AND CAST(n_chars AS DOUBLE)/n_tokens >= 3
        |            AND CAST(n_chars AS DOUBLE)/n_tokens <= 12
        |            THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END) * 0.2::DOUBLE +
        |      (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.3::DOUBLE +
        |      (1.0::DOUBLE - CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0.0::DOUBLE END) * 0.1::DOUBLE
        |    ) * 1e6) / 1e6 AS quality
        |  FROM base),
        |ranked AS (
        |  SELECT doc_id, fp, quality,
        |    row_number() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS group_size
        |  FROM scored)
        |SELECT doc_id, fp, quality, group_size FROM ranked WHERE rn = 1""".stripMargin),

    // benchmark decontamination (the standard pretraining hygiene pass):
    // flag corpus docs sharing any 5-gram with the eval set. The eval
    // side is small by nature → its distinct gram set broadcasts; the
    // corpus side is one scan + explode + broadcast join + partial-agg'd
    // count — no corpus-side shuffle before the per-doc fold
    QueryDef("decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def grams(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
        explode(TextAnalysis.wordNgrams(
          TextAnalysis.tokens(col("text")), 5)).as("g"))
      val evalGrams = grams(docs.filter(col("doc_id") % 97 === 0))
        .select(col("g")).distinct()
      grams(docs.filter(col("doc_id") % 97 =!= 0))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[\s\x0B]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(toks) - 3, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |         || toks[i+3] || ' ' || toks[i+4])) AS g
        |  FROM t),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |co AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0)
        |SELECT doc_id, count(DISTINCT g) AS n_shared
        |FROM co JOIN ev USING (g) GROUP BY 1""".stripMargin),

    // fuzzy decontamination (VERDICT r10 #5a): max n-gram Jaccard per
    // corpus doc against the eval split — catches paraphrased eval
    // leakage the exact gram-count pass above waves through. Same
    // broadcast shape (eval side small by nature), per-pair cost only
    // for docs already sharing a gram — see Dedup.decontaminateFuzzy
    QueryDef("decontaminate_fuzzy", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.decontaminateFuzzy(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
    },
      graft.operators.Dedup.decontaminateFuzzyOracleSql()),

    // URL/domain dedup (VERDICT r10 #5b): crawl frontier hygiene — the
    // same page fetched via www./casing/default-port/tracking-param
    // variants collapses to one canonical doc per normalized
    // host+path key. URLs are a deterministic fixture over the doc
    // columns (the documents table has no URL column); the
    // normalization runs through the faup extractors (ffaup contrib,
    // reference tests/rscript_faup_*.sh). One scan + one map-side-
    // combinable groupBy — no join, 100 TB-safe by construction
    QueryDef("dedup_url", (s, dir) => {
      import graft.functions.rainer
      val url = concat(lit("https://WWW."), upper(col("source")),
        lit(".Example.COM:443/"), col("lang"), lit("/item/"),
        col("doc_id") % 40, lit("/?utm_source=feed&ref="), col("doc_id"),
        lit("#sec"))
      val host = regexp_replace(lower(rainer.faup_host(url)), "^www\\.", "")
      val path = regexp_replace(rainer.faup_path(url), "/$", "")
      Tables.documents(s, dir)
        .select(col("doc_id"), host.as("host"), path.as("path"),
          lower(rainer.faup_domain(url)).as("domain"))
        .groupBy(col("host"), col("path"), col("domain"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://WWW.' || upper(source) || '.Example.COM:443/' || lang
        |      || '/item/' || (doc_id % 40) || '/?utm_source=feed&ref='
        |      || doc_id || '#sec' AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS hostfull,
        |    regexp_replace(regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1),
        |      '/$', '') AS path
        |  FROM u)
        |SELECT regexp_replace(hostfull, '^www\.', '') AS host, path,
        |  regexp_extract(hostfull, '([^.]+\.[^.]+)$', 1) AS domain,
        |  count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM p GROUP BY 1, 2, 3""".stripMargin),

    // C4-style line-level dedup: corpus-wide boilerplate lines (the
    // cookie banner on every page, per-site footers) are removed and
    // the documents reassembled in original line order. The fixture
    // wraps each doc in one corpus-wide banner, one per-residue footer
    // (repeats n/3 times) and one unique id line, so the hot-line
    // detector, the anti-join, and order-preserving reassembly all
    // fire. See Dedup.lineDedup for the broadcast-anti-join shape
    QueryDef("dedup_lines", (s, dir) => {
      val staged = Tables.documents(s, dir).withColumn("txt", concat(
        lit("cookie notice please accept\n"), col("text"),
        lit("\ncopyright footer "), col("doc_id") % 3,
        lit("\nid line "), col("doc_id")))
      graft.operators.Dedup.lineDedup(staged, "doc_id", "txt")
    },
      """WITH staged AS (
        |  SELECT doc_id,
        |    'cookie notice please accept' || chr(10) || text || chr(10)
        |      || 'copyright footer ' || (doc_id % 3) || chr(10)
        |      || 'id line ' || doc_id AS txt
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(range(len(string_split(txt, chr(10))))) AS pos,
        |    unnest(string_split(txt, chr(10))) AS line
        |  FROM staged),
        |hot AS ( -- keyed on md5(line), mirroring the engine's 32-byte key
        |  SELECT md5(line) AS lh FROM l GROUP BY 1 HAVING count(*) >= 3),
        |kept AS (SELECT l.* FROM l ANTI JOIN hot ON md5(l.line) = hot.lh)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM kept GROUP BY 1""".stripMargin),

    // quality-classifier calibration (VERDICT r10 #5c): per-source
    // Gopher rule pass-rate table — the sanity check before trusting
    // the filter at corpus scale. Scan-bound flags + one combinable
    // groupBy; micro-rates are BIGINT floor divisions (hash-stable)
    QueryDef("quality_calibration", (s, dir) =>
      TextAnalysis.gopherCalibration(
        Tables.documents(s, dir), "doc_id", "text", "source"),
      TextAnalysis.gopherCalibrationOracleSql),

    // hashed-ngram linear quality classifier (VERDICT r11 #4a): the
    // fastText shape with closed-form NB log-odds training — training
    // is itself a distributed query (two combinable groupBys + one
    // 2-scalar collect), the model a ≤4096-row broadcast bounded by
    // feature hashing, scoring a scan + one combinable per-doc sum.
    // Holdout agreement is read off the (predicted, teacher, is_train)
    // columns. See QualityClassifier.distillQuality
    QueryDef("quality_classifier", (s, dir) =>
      graft.operators.QualityClassifier.distillQuality(
        Tables.documents(s, dir), "doc_id", "text"),
      graft.operators.QualityClassifier.distillQualityOracleSql()),

    // substring-span REMOVAL (VERDICT r11 #4b): the substringDupSpans
    // detector composed back onto the corpus — the capped span list
    // (bounded driver collect, ≤100 rows by contract) scrubbed from
    // every document in deterministic order; pure scan-bound replace
    // chain after the detection pass
    QueryDef("dedup_substring_removal", (s, dir) =>
      Dedup.removeDupSpans(Tables.documents(s, dir), "doc_id", "text"),
      Dedup.removeDupSpansOracleSql()),

    // LLM-prep: per-(source, lang) corpus statistics table — the
    // mixture-planning companion to token_budget with EXACT token-count
    // quantiles. One combinable groupBy; Spark's exact percentile holds
    // one value→count map per group (bounded by distinct token counts,
    // ~10^4 — not by row count), so the aggregate stays map-side
    // combinable at any corpus size. Interpolated ranks are multiples
    // of 0.1 for p50/p90 → ×10 integers are exact on both engines.
    QueryDef("corpus_stats", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"),
          length(col("text")).as("n_chars"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tokens"),
          round(avg(col("n_chars")) * 100).cast("long").as("mean_chars_x100"),
          round(percentile(col("n_tok"), lit(0.5)) * 10).cast("long")
            .as("p50_tokens_x10"),
          round(percentile(col("n_tok"), lit(0.9)) * 10).cast("long")
            .as("p90_tokens_x10"),
          max(col("n_tok")).cast("long").as("max_tokens"))
    },
      // quantile_cont uses the same 1+(n-1)p interpolated-rank definition
      // as Spark's exact percentile; ×10 integers are exact for p in
      // tenths, and avg moves to integer cents
      """WITH t AS (
        |  SELECT source, lang,
        |    len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'),
        |      x -> x <> '')) AS n_tok,
        |    length(text) AS n_chars
        |  FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(round(avg(n_chars) * 100) AS BIGINT) AS mean_chars_x100,
        |  CAST(round(quantile_cont(n_tok, 0.5) * 10) AS BIGINT)
        |    AS p50_tokens_x10,
        |  CAST(round(quantile_cont(n_tok, 0.9) * 10) AS BIGINT)
        |    AS p90_tokens_x10,
        |  CAST(max(n_tok) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1, 2""".stripMargin),

    // token-accounting table (VERDICT r11 #5): per-source token totals
    // + cumulative mixture shares — the planning input for
    // sample_domain_mix. One combinable corpus-sized groupBy; the
    // cumulative window runs over the DOMAIN table (#domains rows,
    // orders of magnitude below the corpus), integer micro-shares
    QueryDef("token_budget", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
      val cum = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per
        .withColumn("cum_tokens", sum(col("n_tokens")).over(cum))
        .withColumn("total_tokens",
          sum(col("n_tokens")).over(Window.partitionBy()))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("cum_tokens"),
          expr("(n_tokens * 1000000) div total_tokens").as("micro_share"))
    },
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'),
        |      x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(n_tokens * 1000000 // sum(n_tokens) OVER () AS BIGINT)
        |    AS micro_share
        |FROM per""".stripMargin),

    // REAL subword tokenization (greedy longest-match BPE under the
    // checked-in pretrained vocabulary, functions.BpeFixture): per-doc
    // whitespace vs subword counts — the accounting delta that skews
    // mixture planning up to ~3x — plus the first word's exact
    // segmentation so the gate pins token BOUNDARIES, not just counts.
    // One codegen'd trie kernel on the scan; vocab size is a training
    // parameter, never a function of the corpus.
    QueryDef("tokenize_bpe", (s, dir) => {
      val v = graft.functions.BpeFixture.vocab
      val firstWord = element_at(TextAnalysis.tokens(col("text")), 1)
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.bpeCount(col("text"), v).cast("long").as("n_bpe"),
        array_join(TextAnalysis.bpeEncode(firstWord, v), "|").as("w1_toks"))
    },
      // greedy longest-match replay of the fixture vocabulary: one
      // recursive-CTE chain per DISTINCT word, corpus joins back through
      // the word (see functions.Bpe.oracleCtes)
      tokenizeBpeOracleSql),

    // tokenizer-QA fertility audit: per source, whitespace words vs BPE
    // subwords (fertility = subwords per word — the unit-cost table a
    // tokenizer owner reads per corpus slice) plus the share of word
    // instances that stay a single token. Per-word counts via ONE
    // transform over the token array (same trie kernel, word-at-a-time),
    // so n_bpe and n_single are definitionally consistent; all ratios
    // exact integer div
    QueryDef("bpe_fertility", (s, dir) => {
      val v = graft.functions.BpeFixture.vocab
      val wcounts = transform(TextAnalysis.tokens(col("text")),
        w => TextAnalysis.bpeCount(w, v).cast("long"))
      Tables.documents(s, dir)
        .select(col("source"), wcounts.as("wc"))
        .select(col("source"),
          size(col("wc")).cast("long").as("n_words"),
          aggregate(col("wc"), lit(0L), (a, c) => a + c).as("n_bpe"),
          size(filter(col("wc"), c => c === 1L)).cast("long").as("n_single"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_bpe")).as("n_bpe"),
          sum(col("n_single")).as("n_single"))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe"),
          col("n_single"),
          expr("(n_bpe * CAST(1000000 AS BIGINT)) div greatest(n_words, 1)")
            .as("fertility_micro"),
          expr("(n_single * CAST(1000000 AS BIGINT)) div greatest(n_words, 1)")
            .as("single_micro"))
    },
      bpeFertilityOracleSql),

    // per-source dedup-impact report: docs/tokens removed by exact
    // dedup, keeper = min-id, attribution to the source that lost its
    // copies — the audit table a pipeline owner reads after every
    // ingest. ONE fp-window shuffle (text never rides it) + one
    // combinable per-source groupBy
    QueryDef("dedup_report", (s, dir) => {
      Dedup.dedupReport(Tables.documents(s, dir), "doc_id", "text", "source")
    },
      Dedup.dedupReportOracleSql),

    // DSIR importance resampling (Xie et al. 2023): hashed-ngram
    // importance log-weights toward the target distribution (here:
    // English docs), Gumbel-top-k selection per shard — exact weighted
    // sampling without replacement, oracle-replayable end to end
    QueryDef("sample_dsir", (s, dir) => {
      Sampling.dsirResample(Tables.documents(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", targetFrac = 0.25)
    },
      Sampling.dsirOracleSql("lang = 'en'", targetFrac = 0.25)),

    // temperature-flattened mixture weights (T=2, alpha=1/2): the
    // standard multilingual/multi-source rebalancing — a source's raw
    // token share p flattens to p^(1/T), renormalized, upweighting the
    // tail sources a proportional mixture starves. sqrt is correctly
    // rounded per IEEE-754 in BOTH engines, and flattened weights are
    // quantized to integer micro-units BEFORE normalization so the
    // share arithmetic is integer division — order-free, oracle-exact
    // (a double SUM across sources would be addition-order-dependent).
    QueryDef("sample_temperature", (s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("n_tokens"))
      per
        .withColumn("micro_share",
          expr("(n_tokens * 1000000) div (sum(n_tokens) over ())"))
        .withColumn("xq",
          floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
        .withColumn("micro_share_t",
          expr("(xq * 1000000) div (sum(xq) over ())"))
        .withColumn("boost_x1000",
          expr("(micro_share_t * 1000) div greatest(micro_share, 1)"))
        .select(col("source"), col("n_tokens"), col("micro_share"),
          col("micro_share_t"), col("boost_x1000"))
    },
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '[\s\x0B]+'),
        |      x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |x AS (
        |  SELECT source, n_tokens,
        |    CAST(n_tokens * 1000000 // sum(n_tokens) OVER () AS BIGINT)
        |      AS micro_share,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS xq
        |  FROM per),
        |t AS (
        |  SELECT source, n_tokens, micro_share,
        |    CAST(xq * 1000000 // sum(xq) OVER () AS BIGINT) AS micro_share_t
        |  FROM x)
        |SELECT source, n_tokens, micro_share, micro_share_t,
        |  CAST(micro_share_t * 1000 // greatest(micro_share, 1) AS BIGINT)
        |    AS boost_x1000
        |FROM t""".stripMargin),

    // token_budget re-based on SUBWORD tokens (VERDICT r12 #2): same
    // per-source budget/share accounting, denominated in the unit a
    // training mixture actually consumes
    QueryDef("token_budget_bpe", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = graft.functions.BpeFixture.vocab
      val per = Tables.documents(s, dir)
        .select(col("source"),
          TextAnalysis.bpeCount(col("text"), v).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
      val cum = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per
        .withColumn("cum_tokens", sum(col("n_tokens")).over(cum))
        .withColumn("total_tokens",
          sum(col("n_tokens")).over(Window.partitionBy()))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("cum_tokens"),
          expr("(n_tokens * 1000000) div total_tokens").as("micro_share"))
    },
      (graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
        """,
          |perdoc AS (
          |  SELECT doc_id, sum(s.n_tok) AS n_tok
          |  FROM words JOIN steps s USING (w) GROUP BY doc_id),
          |per AS (
          |  SELECT b.source, count(*) AS n_docs,
          |    CAST(sum(coalesce(p.n_tok, 0)) AS BIGINT) AS n_tokens
          |  FROM base b LEFT JOIN perdoc p USING (doc_id) GROUP BY 1)
          |SELECT source, n_docs, n_tokens,
          |  CAST(sum(n_tokens) OVER (ORDER BY source
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_tokens,
          |  CAST(n_tokens * 1000000 // sum(n_tokens) OVER () AS BIGINT)
          |    AS micro_share
          |FROM per""".stripMargin)),

    // embedding-space (semantic) eval decontamination — third rung of
    // the ladder (exact 13-gram → fuzzy micro-Jaccard → embedding
    // cosine): sign-bit-LSH banding on both sides, train-bands joined
    // against BROADCAST eval-bands (eval sets are benchmark-sized by
    // nature), per-train combinable max-sim. Catches paraphrase
    // contamination that shares no n-gram
    QueryDef("decontaminate_semantic", (s, dir) =>
      Similarity.decontaminateSemantic(Tables.embeddings(s, dir),
        evalMod = 50, tau = 0.3),
      Similarity.decontaminateSemanticOracleSql(evalMod = 50, tau = 0.3)),

    // CCNet-style perplexity-stratified sampling: corpus-trained bigram
    // LM score → per-language ntile(3) (head = most LM-typical) →
    // per-bucket deterministic keep rates (head whole, tail thinned).
    // The window shuffles (avg_lp, id) pairs only — text never rides it
    QueryDef("sample_perplexity", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(LanguageModel.bigramLogProb(docs, "doc_id", "text"), "doc_id")
      Sampling.perplexitySample(scored, stratumCol = "lang",
        idCol = "doc_id", rates = Map(1 -> 1.0, 2 -> 0.5, 3 -> 0.1),
        salt = "graft-ppl")
    },
      (s"""WITH lm AS (
        |  SELECT * FROM (${LanguageModel.bigramOracleSql}) ),
        |scored AS (
        |  SELECT d.doc_id, d.lang, lm.n_bigrams, lm.avg_lp
        |  FROM documents d JOIN lm ON d.doc_id = lm.doc_id),
        |ranked AS (
        |  SELECT doc_id, lang,
        |    NTILE(3) OVER (PARTITION BY lang
        |                   ORDER BY avg_lp DESC, doc_id ASC) AS ppl_bucket
        |  FROM scored WHERE n_bigrams > 0),
        |uni AS (
        |  SELECT * FROM ranked
        |  UNION ALL
        |  SELECT doc_id, lang, 3 AS ppl_bucket
        |  FROM scored WHERE n_bigrams = 0)
        |SELECT doc_id, lang, ppl_bucket FROM uni
        |WHERE ${Sampling.hashFractionSql("doc_id", "graft-ppl")} <
        |  CASE ppl_bucket WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 ELSE 0.1 END"""
        .stripMargin)),

    // keep-BEST exact dedup: duplicate groups resolved to the richest
    // capture (max n_chars, ties to smallest id) instead of the
    // smallest id — the crawl-snapshot policy. Same single combinable
    // fingerprint groupBy as dedup_exact; the argmax is max(struct),
    // not a window, so map-side combine survives
    QueryDef("dedup_keep_best", (s, dir) =>
      Dedup.keepBest(Tables.documents(s, dir), "doc_id", "text",
        score = col("n_chars")),
      """WITH s AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
        |    CAST(n_chars AS DOUBLE) AS score
        |  FROM documents),
        |r AS (
        |  SELECT fp, doc_id, score,
        |    row_number() OVER (PARTITION BY fp
        |      ORDER BY score DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS n_dups
        |  FROM s)
        |SELECT fp, doc_id AS keep_id, score AS best_score, n_dups
        |FROM r WHERE rn = 1""".stripMargin),

    // contamination-coverage REPORT (eval-side view of the fuzzy pass):
    // per eval doc, how many corpus docs leak it, worst micro-Jaccard,
    // smallest offending id; zero rows included — the audit artifact
    // filed alongside a decontamination run
    QueryDef("contamination_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
    },
      Dedup.contaminationReportOracleSql()),

    // topic/diversity report: deterministic coarse cells (the semDedup
    // quantizer) -> per-cluster mass + integer micro cosine-to-centroid
    // distribution; the corpus-balance audit before mixture design
    QueryDef("cluster_topics", (s, dir) =>
      Similarity.clusterTopics(Tables.embeddings(s, dir)),
      Similarity.clusterTopicsOracleSql()),

    // corpus-wide hot n-grams, EXACT, via Misra-Gries candidates +
    // recount — the shuffle carries capacity-bounded sketch buffers,
    // never the gram stream (see TextAnalysis.hotNgrams)
    QueryDef("ngram_hot", (s, dir) =>
      TextAnalysis.hotNgrams(Tables.documents(s, dir), "text"),
      TextAnalysis.hotNgramsOracleSql()),

    // cross-snapshot dedup: prior crawl (doc_id % 3 = 0) folds into one
    // fixed-size bloom; only possibly-seen input rows reach the exact
    // anti-join (see Dedup.snapshotDedup). The input carries re-keyed
    // copies of half the snapshot (ids + 1e6, identical text) so the
    // gate exercises the DROP path — the raw %3 split has zero cross-
    // boundary duplicate fingerprints at test scale, which would leave
    // the verify branch semantically dormant.
    QueryDef("dedup_snapshot", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val recrawled = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.snapshotDedup(
        docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
          .union(recrawled),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
    },
      Dedup.snapshotDedupRecrawlOracleSql),

    // fuzzy face of the cross-snapshot dedup: input docs near-matching
    // (jaccard >= tau) ANY prior-crawl doc are dropped; candidates come
    // from input-bands-probe-snapshot-bands LSH — never snapshot x
    // snapshot (see Dedup.snapshotNearDup)
    QueryDef("dedup_snapshot_fuzzy", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.snapshotNearDup(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text")
    },
      Dedup.snapshotNearDupOracleSql()),

    // embedding QA stats (the corpus-health face of the ANN family):
    // per-label counts + L2-norm distribution — the standard sanity pass
    // before indexing/training. Per-row norm is a sequential fold (same
    // IEEE order both engines); scan-bound + one partial-agg'd groupBy
    QueryDef("emb_stats", (s, dir) => {
      val norm = sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      Tables.embeddings(s, dir)
        .select(col("label"), norm.as("norm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("norm")), 4).as("avg_norm"),
          round(min(col("norm")), 4).as("min_norm"),
          round(max(col("norm")), 4).as("max_norm"))
    },
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  round(avg(norm), 4) AS avg_norm,
        |  round(min(norm), 4) AS min_norm,
        |  round(max(norm), 4) AS max_norm
        |FROM n GROUP BY 1""".stripMargin),

    // PII-style scrubbing (the text-side sibling of mmanon): emails,
    // bare IPv4s, long digit runs → stable class tokens. Deterministic
    // markers are synthesized into the text so the redaction paths all
    // fire; pure regexp_replace chain, scan-bound
    QueryDef("text_redact", (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("txt", concat(
          lit("user"), col("doc_id"), lit("@example.com ip=10.0."),
          col("doc_id") % 256, lit(".7 acct=123456789 "), col("text")))
        .select(col("doc_id"), TextAnalysis.redact(col("txt")).as("redacted"))
    },
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        'user' || doc_id || '@example.com ip=10.0.' || (doc_id % 256)
        |          || '.7 acct=123456789 ' || text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{7,}\b', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin),

    // corpus statistics denominated in SUBWORD tokens: the per-language
    // share/quantile table a mixture plan actually budgets from (the
    // whitespace-vs-BPE delta this fixes is up to ~3x per language)
    QueryDef("corpus_stats_bpe", (s, dir) => {
      val v = graft.functions.BpeFixture.vocab
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          TextAnalysis.bpeCount(col("text"), v).as("n_tok"),
          length(col("text")).as("n_chars"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tokens"),
          round(avg(col("n_chars")) * 100).cast("long").as("mean_chars_x100"),
          round(percentile(col("n_tok"), lit(0.5)) * 10).cast("long")
            .as("p50_tokens_x10"),
          round(percentile(col("n_tok"), lit(0.9)) * 10).cast("long")
            .as("p90_tokens_x10"),
          max(col("n_tok")).cast("long").as("max_tokens"))
    },
      (graft.functions.Bpe.oracleCtes(graft.functions.BpeFixture.sqlValues) +
        """,
          |perdoc AS (
          |  SELECT doc_id, CAST(sum(s.n_tok) AS BIGINT) AS n_tok
          |  FROM words JOIN steps s USING (w) GROUP BY doc_id),
          |t AS (
          |  SELECT d.source, d.lang, coalesce(p.n_tok, 0) AS n_tok,
          |    length(d.text) AS n_chars
          |  FROM documents d LEFT JOIN perdoc p USING (doc_id))
          |SELECT source, lang, count(*) AS n_docs,
          |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
          |  CAST(round(avg(n_chars) * 100) AS BIGINT) AS mean_chars_x100,
          |  CAST(round(quantile_cont(n_tok, 0.5) * 10) AS BIGINT)
          |    AS p50_tokens_x10,
          |  CAST(round(quantile_cont(n_tok, 0.9) * 10) AS BIGINT)
          |    AS p90_tokens_x10,
          |  CAST(max(n_tok) AS BIGINT) AS max_tokens
          |FROM t GROUP BY 1, 2""".stripMargin))
  )
}
