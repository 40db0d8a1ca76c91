package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{SimilarityOps, TextOps}

/** Training-data pipeline operators (dedup family, similarity search, text
  * analysis, multimodal plumbing) as oracle-verified queries over the
  * `documents` / `embeddings` tables.
  *
  * Each oracle mirrors the Spark implementation operation-for-operation —
  * including floating-point fold order — so results hash-match exactly.
  * Shared primitives: `H(s) = int(sha256(s)[0:8])` (Spark:
  * `conv(substr(sha2(s,256),1,8),16,10)`; DuckDB:
  * `CAST('0x'||substr(sha256(s),1,8) AS BIGINT)`).
  */
object TrainingOps {

  // ------------------------------------------------- oracle SQL fragments

  /** DuckDB: portable 32-bit string hash. */
  private def H(s: String): String =
    s"CAST(('0x' || substr(sha256($s), 1, 8)) AS BIGINT)"

  private val Words = raw"string_split_regex(text, '\s+')"

  /** DuckDB: distinct word-bigram shingle HASHES per doc (CTE body) —
    * mirrors the `hs` set of `graft.functions.MinHashSketch`: words
    * hashed once, adjacent pairs combined arithmetically. */
  private val ShingleDocs =
    s"""SELECT doc_id AS id,
       |  list_distinct(CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[])
       |    ELSE list_transform(range(1, len(hw)),
       |      i -> (hw[i] * 1000003 + hw[i+1]) % ${graft.ops.TextOps.ShingleMod})
       |  END) AS hs
       |FROM (SELECT doc_id, list_transform($Words, w -> ${H("w")}) AS hw
       |      FROM documents)""".stripMargin

  /** Fixed seed corpus for the induced-BPE round trip — the same corpus
    * whose 24-merge table OpsSpec golden-locks (any drift fails both the
    * spec and the oracle). */
  private val BpeSeedCorpus: Seq[(Long, String)] = Seq(
    (1L, "the lower the better for the lowest loss"),
    (2L, "new year newer model newest weights"),
    (3L, "the model trains and the training loss lowers"),
    (4L, "lower training loss means better models"),
    (5L, "the newest weights train the best model"),
    (6L, "low loss and lower loss and lowest loss"))

  /** sha-256 of the golden 24-merge table joined with '\n' — computed
    * from the OpsSpec golden list, independent of the learner. */
  private val InducedVocabSha =
    "a04edeb1266511d3e2c39ffae6461fe4d8196d0da0c7b3e29e5ac25eb087230c"

  val all: Seq[QueryDef] = Seq(

    // ------------------------------------------------------ dedup: exact
    QueryDef(
      "q_td_dedup_exact",
      """SELECT sha256(text) AS content_sha, min(doc_id) AS canonical_id,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY content_sha""".stripMargin) { (s, d) =>
      TextOps.exactDupGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("content_sha")
    },

    // --------------- dedup: cross-corpus PARAGRAPH dedup with reassembly
    // (Lee et al. 2022 — substring-granular pass after doc-level dedup).
    // The synthetic corpus pairs each document's text with its successor's
    // (wrap-around), so every "paragraph" genuinely appears in two
    // documents; keep-first then reassembles each document from its
    // surviving paragraphs, empty-string when nothing survives.
    QueryDef(
      "q_td_dedup_paragraphs",
      """WITH n AS (SELECT count(*) AS c FROM documents),
        |synth AS (
        |  SELECT d1.doc_id, d1.text AS p1, d2.text AS p2
        |  FROM documents d1, documents d2, n
        |  WHERE d2.doc_id = (d1.doc_id + 1) % n.c),
        |paras AS (
        |  SELECT doc_id AS id, 0 AS pos, p1 AS para FROM synth
        |  UNION ALL SELECT doc_id, 1, p2 FROM synth),
        |winners AS (
        |  SELECT para, min(id * 2 + pos) AS w FROM paras GROUP BY para),
        |kept AS (
        |  SELECT p.id, p.pos, p.para FROM paras p JOIN winners w
        |    ON p.para = w.para AND p.id * 2 + p.pos = w.w),
        |stitched AS (
        |  SELECT id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY id)
        |SELECT s.doc_id, coalesce(st.text, '') AS text
        |FROM synth s LEFT JOIN stitched st ON st.id = s.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val succ = docs.select(col("doc_id").as("did2"), col("text").as("p2"))
      val synth = docs.select(col("doc_id"), col("text").as("p1"))
        .join(succ, ((col("doc_id") + 1) % n) === col("did2"))
        .select(col("doc_id"),
          concat_ws("\n\n", col("p1"), col("p2")).as("text"))
      TextOps.dedupParagraphs(synth, "doc_id", "text").orderBy("doc_id")
    },

    // ----------------------------------------- dedup: MinHash + LSH bands
    QueryDef("q_td_minhash_lsh", minHashOracle) { (s, d) =>
      TextOps.minHashNearDupPairs(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // --------------------- dedup: incremental batch-vs-corpus (cross-corpus)
    // (a new batch checked against an existing corpus through the band
    // join only — the corpus is never re-paired against itself)
    QueryDef("q_td_crosscorpus", crossCorpusOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.crossCorpusNearDupPairs(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .orderBy("in_id", "corpus_id")
    },

    // ----------------------- dedup: PERSISTENT MinHash/LSH index search
    // (q_td_crosscorpus's contract against a STORED corpus substrate:
    // the corpus is signed once into bucket-partitioned managed tables;
    // each batch tokenizes only itself and both index reads are
    // manifest-pruned to the buckets the batch can match — the
    // sign-once / dedup-many shape of incremental corpus hygiene)
    QueryDef("q_td_dedup_index", crossCorpusOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // staged-reuse as q_td_knn_index: sha256-keyed root, revalidated
      // against the build-time source-count property so regenerated data
      // rebuilds — one cheap count(), not a per-probe tokenize pass
      val root = s"/tmp/graft_engine/dedupindex_v3_${EngineOps.dirKey(d)}"
      val n = corpus.count()
      val idx = {
        val existing = graft.ops.DedupIndex(s, root)
        if (existing.exists && existing.sourceCount.contains(n)) existing
        else graft.ops.DedupIndex.create(s, corpus, "doc_id", "text", root)
      }
      idx.nearDupPairs(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .orderBy("in_id", "corpus_id")
    },

    // ------------------------------- dedup: connected-component groups
    // (pairs → transitive groups → canonical doc per group; the operator
    // that makes pair output actionable at corpus scale)
    QueryDef("q_td_dedup_groups", dedupGroupsOracle) { (s, d) =>
      import graft.ops.GraphOps
      val pairs = TextOps.minHashNearDupPairs(Tables.documents(s, d), "doc_id", "text")
        .filter(col("inter") * 2 >= col("uni")) // J >= 0.5, integer-exact
      GraphOps.dedupGroups(pairs, "id_a", "id_b").orderBy("doc_id")
    },

    // --------------------- dedup: best-representative per near-dup group
    // (keep the highest-quality member of each cluster — here: longest
    // text, id tie-break — instead of the arbitrary min-id canonical)
    QueryDef("q_td_dedup_best", dedupBestOracle) { (s, d) =>
      import graft.ops.GraphOps
      val docs = Tables.documents(s, d)
      val pairs = TextOps.minHashNearDupPairs(docs, "doc_id", "text")
        .filter(col("inter") * 2 >= col("uni"))
      val groups = GraphOps.dedupGroups(pairs, "id_a", "id_b")
        .select("doc_id", "group_id")
      val scored = docs.select(col("doc_id").as("sid"),
        length(col("text")).cast("long").as("score"))
      GraphOps.bestRepresentatives(groups, "doc_id", "group_id",
        scored, "sid", "score").orderBy("group_id")
    },

    // -------------------------------------------------- dedup: SimHash
    QueryDef("q_td_simhash", simHashOracle) { (s, d) =>
      TextOps.simHashSignatures(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // --------------------------------- dedup: blocked n-gram Jaccard pairs
    QueryDef(
      "q_td_ngram_jaccard",
      s"""WITH d AS (
         |  SELECT w.id,
         |    coalesce(ds.source, '') || '#'
         |      || CAST(ds.n_chars // 256 AS VARCHAR) AS blk, w.hs
         |  FROM ($ShingleDocs) w JOIN documents ds ON ds.doc_id = w.id
         |  WHERE len(w.hs) > 0)
         |SELECT a.id AS id_a, b.id AS id_b,
         |       len(list_intersect(a.hs, b.hs)) AS inter,
         |       len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS uni
         |FROM d a JOIN d b ON a.blk = b.blk AND a.id < b.id
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // block on (source, size bucket): docs of very different length
      // cannot be near-dups, so the quadratic stays inside small cells
      TextOps.blockedJaccardPairs(
        Tables.documents(s, d), "doc_id", "text",
        // coalesce on BOTH sides (Spark + SQL): concat_ws skips NULLs
        // while DuckDB's || propagates them — a null source would block
        // by bucket alone here but vanish from the oracle entirely
        concat_ws("#", coalesce(col("source"), lit("")),
          floor(col("n_chars") / 256)))
        .orderBy("id_a", "id_b")
    },

    // ------------------------------- decontamination: benchmark overlap
    // (fraction of each doc's distinct bigram shingles appearing in the
    // benchmark set — here the deterministic doc_id % 20 = 0 slice)
    QueryDef(
      "q_td_contamination",
      s"""WITH hw AS (SELECT doc_id,
         |    list_transform($Words, w -> ${H("w")}) AS hw FROM documents),
         |corp AS (SELECT DISTINCT doc_id AS id, p[1] AS g1, p[2] AS g2 FROM (
         |  SELECT doc_id,
         |    unnest(CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[][])
         |      ELSE list_transform(range(1, len(hw)),
         |        i -> [(hw[i] * 1000003 + hw[i+1]) % ${TextOps.ShingleMod},
         |              (hw[i] * ${TextOps.ShingleMult2} + hw[i+1])
         |                % ${TextOps.ShingleMod}])
         |    END) AS p
         |  FROM hw)),
         |bench AS (SELECT DISTINCT g1, g2 FROM corp WHERE id % 20 = 0),
         |scored AS (SELECT c.id, count(*) AS t, count(b.g1) AS m
         |           FROM corp c LEFT JOIN bench b
         |             ON c.g1 = b.g1 AND c.g2 = b.g2 GROUP BY c.id)
         |SELECT d.doc_id, coalesce(s.t, 0) AS n_shingles,
         |       coalesce(s.m, 0) AS n_contaminated,
         |       coalesce(CAST(s.m AS DOUBLE) / CAST(s.t AS DOUBLE), 0.0)
         |         AS contamination
         |FROM documents d LEFT JOIN scored s ON d.doc_id = s.id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.contaminationScores(
        docs, docs.filter(col("doc_id") % 20 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // --------------------------- quality: repetition (boilerplate/spam)
    QueryDef(
      "q_td_repetition",
      s"""WITH hw AS (SELECT doc_id,
         |    list_transform($Words, w -> ${H("w")}) AS hw FROM documents),
         |sh AS (SELECT doc_id,
         |    CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[])
         |      ELSE list_transform(range(1, len(hw)),
         |        i -> (hw[i] * 1000003 + hw[i+1]) % ${TextOps.ShingleMod})
         |    END AS s FROM hw),
         |x AS (SELECT doc_id, unnest(s) AS h FROM sh),
         |c AS (SELECT doc_id, count(*) AS t, count(DISTINCT h) AS dd
         |      FROM x GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(c.t, 0) AS n_bigrams,
         |       coalesce(c.dd, 0) AS n_distinct,
         |       coalesce(CAST(1.0 AS DOUBLE)
         |         - CAST(c.dd AS DOUBLE) / CAST(c.t AS DOUBLE), 0.0)
         |         AS repetition
         |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextOps.repetitionMetrics(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // --------------------------------- packing: token-budget bins (512)
    QueryDef(
      "q_td_packing",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(coalesce(len($Words), 0) AS BIGINT) AS n_tokens,
         |    coalesce(${H("CAST(doc_id AS VARCHAR)")}, 0) AS h
         |  FROM documents),
         |c AS (SELECT doc_id, h % 8 AS shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |       CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.packSequences(Tables.documents(s, d), "doc_id", "text",
        maxTokens = 512L, shards = 8)
        .orderBy("doc_id")
    },

    // ------------------- training prep: packed-sequence MATERIALIZATION
    // (the arrays a trainer ships: per (shard, bin) the concatenated doc
    // ids in packing order with an EOS separator; ids here are hashed
    // words so DuckDB can restate the whole pipeline — a real run feeds
    // bpeEncode's arrays through the same surface)
    QueryDef(
      "q_td_packing_mat",
      raw"""WITH t AS (SELECT doc_id,
           |    list_transform(string_split_regex(text, '\s+'),
           |      w -> CAST(${H("w")} % 32768 AS INT)) AS ids,
           |    coalesce(${H("CAST(doc_id AS VARCHAR)")}, 0) AS h
           |  FROM documents),
           |c AS (SELECT doc_id, ids, h, h % 8 AS shard,
           |    CAST(len(ids) AS BIGINT) AS n_tokens,
           |    sum(CAST(len(ids) AS BIGINT)) OVER (PARTITION BY h % 8
           |      ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t),
           |b AS (SELECT *, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
           |  FROM c),
           |p AS (SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
           |    flatten(list(list_append(ids, 50256) ORDER BY h, doc_id))
           |      AS ids
           |  FROM b GROUP BY shard, bin)
           |SELECT shard, bin, n_docs, CAST(len(ids) AS BIGINT) AS n_tokens,
           |       array_to_string(ids, ',') AS ids_csv
           |FROM p ORDER BY shard, bin""".stripMargin) { (s, d) =>
      val withIds = Tables.documents(s, d).select(col("doc_id"),
        transform(TextOps.tokens(col("text")),
          w => pmod(TextOps.portableHash(w), lit(32768L)).cast("int"))
          .as("ids"))
      TextOps.packMaterialize(withIds, "doc_id", "ids",
        maxTokens = 512L, shards = 8, eosId = 50256)
        .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
          concat_ws(",", transform(col("ids"), _.cast("string")))
            .as("ids_csv"))
        .orderBy("shard", "bin")
    },

    // --------------------------------------- similarity: brute-force kNN
    QueryDef("q_td_knn_brute", knnOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      SimilarityOps.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },

    // --------------------------------------------- similarity: IVF ANN
    QueryDef("q_td_knn_ivf", ivfOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      SimilarityOps.ivfTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        nCentroids = 16, nProbe = 2, k = 5)
        .orderBy("query_id", "rank")
    },

    // -------------------------- similarity: PERSISTENT IVF index search
    // (same semantics and oracle as q_td_knn_ivf, but the fit is stored:
    // centroids + cell-partitioned vectors as managed tables, and search
    // scans ONLY the probed cells via manifest partition pruning — the
    // train-once / search-many shape of 100 TB similarity search)
    QueryDef("q_td_knn_index", ivfOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // staged once per (layout version, sf dir) and REUSED: the
      // operator's contract is train-once / search-many, so repeated
      // runs measure the search path against the stored fit — the build
      // is paid by whichever run arrives first (deterministic seed
      // codebook ⇒ identical index either way). The root is keyed by
      // the sha256 dirKey (lossy path munging collides for dirs that
      // differ only in punctuation), and a staged index is revalidated
      // against the corpus count so in-place data regeneration rebuilds
      // instead of silently serving a stale fit.
      val root = s"/tmp/graft_engine/annindex_v1_${EngineOps.dirKey(d)}"
      val idx = {
        val existing = graft.ops.AnnIndex(s, root)
        if (existing.exists && existing.indexedVectors.contains(e.count()))
          existing
        else graft.ops.AnnIndex.create(s, e, "vec_id", "embedding",
          graft.ops.AnnIndex.seedCodebook(e, "vec_id", "embedding", 16), root)
      }
      idx.search(e.filter(col("vec_id") < 10), "vec_id", "embedding",
          nProbe = 2, k = 5)
        .orderBy("query_id", "rank")
    },

    // --------------------- similarity: PERSISTENT IVF-PQ index search
    // (probe-limited candidates as in q_td_knn_ivf, scored by q_td_knn_pq's
    // compressed-domain ADC — but the coarse codebook, sub-codebooks, and
    // encoded corpus are all stored as managed tables, and search reads
    // only the probed cells' code files: the billion-vector shape)
    QueryDef("q_td_knn_pqindex", ivfPqOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // staged-reuse as q_td_knn_index: sha256-keyed root, revalidated
      // against the corpus count so regenerated data rebuilds the index
      val root = s"/tmp/graft_engine/pqannindex_v1_${EngineOps.dirKey(d)}"
      val idx = {
        val existing = graft.ops.PqAnnIndex(s, root)
        if (existing.exists &&
            existing.indexedVectors(m = 4).contains(e.count())) existing
        else graft.ops.PqAnnIndex.create(s, e, "vec_id", "embedding",
          graft.ops.AnnIndex.seedCodebook(e, "vec_id", "embedding", 16),
          SimilarityOps.pqCodebook(e, "vec_id", "embedding",
            dims = 64, m = 4, ksub = 16),
          dims = 64, m = 4, root)
      }
      idx.search(e.filter(col("vec_id") < 10), "vec_id", "embedding",
          nProbe = 2, k = 5)
        .orderBy("query_id", "rank")
    },

    // ------------------------------ similarity: semantic cluster assignment
    // (nearest-centroid by cosine against a deterministic codebook — the
    // first 16 vectors — plus per-cluster population; min_by linear
    // aggregate, broadcast codebook, no window over n×k rows)
    QueryDef("q_td_cluster", clusterOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val codebook = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("cid"),
          SimilarityOps.asDouble(col("embedding")).as("centv"))
      SimilarityOps.clusterAssignments(e, codebook, "vec_id", "embedding")
        .orderBy("vec_id")
    },

    // ------------------------------ dedup: SemDeDup (cluster-bounded
    // cosine pruning — pairs are compared only within their assigned
    // cluster, the deterministic first-wins keep rule; same 16-centroid
    // codebook as q_td_cluster)
    QueryDef("q_td_semdedup", semDedupOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val codebook = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("cid"),
          SimilarityOps.asDouble(col("embedding")).as("centv"))
      SimilarityOps.semanticDedup(e, codebook, "vec_id", "embedding",
          threshold = 0.4)
        .orderBy("vec_id")
    },

    // ------------------------------- similarity: product-quantization ADC
    // (corpus stored as 4 sub-codebook codes per vector — the compressed
    // billion-vector search path; search reconstructs cosines from a
    // per-query LUT and never touches raw corpus vectors)
    QueryDef("q_td_knn_pq", pqOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cb = SimilarityOps.pqCodebook(
        e, "vec_id", "embedding", dims = 64, m = 4, ksub = 16)
      val codes = SimilarityOps.pqEncode(
        e, cb, "vec_id", "embedding", dims = 64, m = 4)
      SimilarityOps.pqTopK(
        e.filter(col("vec_id") < 10), codes, cb,
        "vec_id", "embedding", dims = 64, m = 4, k = 5)
        .orderBy("query_id", "rank")
    },

    // ----------------------------------------- similarity: sign-LSH ANN
    QueryDef("q_td_knn_lsh", annOracle) { (s, d) =>
      val e = Tables.embeddings(s, d)
      SimilarityOps.lshTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", dims = 64, k = 3)
        .orderBy("query_id", "rank")
    },

    // -------------------------------- dedup: embedding-cosine near-dup pairs
    QueryDef("q_td_embed_neardup", embedNearDupOracle) { (s, d) =>
      SimilarityOps.embeddingNearDupPairs(
        Tables.embeddings(s, d), "vec_id", "embedding", dims = 64, threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // ------------------------------------------------ text: language ID
    QueryDef("q_td_lang_id", langOracle) { (s, d) =>
      val doc = Tables.documents(s, d)
      val ws = TextOps.tokens(col("text"))
      val scores = TextOps.langScores(ws).map { case (l, c) => c.as(s"n_$l") }
      doc.select(
        (col("doc_id") +: scores :+ TextOps.langGuess(ws).as("guess")): _*)
        .orderBy("doc_id")
    },

    // -------------------------------------------- text: quality metrics
    QueryDef(
      "q_td_quality",
      s"""SELECT doc_id, n_tokens, n_distinct, n_punct, n_stopwords,
         |  round((CAST(n_distinct AS DOUBLE) / n_tokens)
         |        * (1.0 - CAST(n_punct AS DOUBLE) / n_chars), 4) AS quality
         |FROM (
         |  SELECT doc_id, n_chars,
         |    len($Words) AS n_tokens,
         |    len(list_distinct($Words)) AS n_distinct,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
         |    len(list_filter($Words, w -> list_contains(
         |      [${TextOps.StopwordsByLang.head._2.map(w => s"'$w'").mkString(",")}], w)))
         |      AS n_stopwords
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.qualityMetrics(Tables.documents(s, d), "doc_id", "text", "n_chars")
        .orderBy("doc_id")
    },

    // -------------------------------- text: Gopher rule-based pre-filter
    // (Rae et al. 2021 §A1.1 — the standard web-curation rule gate;
    // integer cross-multiplied flags keep keep-decisions bit-identical)
    QueryDef("q_td_gopher", gopherOracle) { (s, d) =>
      TextOps.gopherQualityRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ------------------------------ text: Gopher line-layout rule gate
    // (the §A1.1 line-based half: duplicate-line fractions, bullet-start
    // and ellipsis-end ratios; the fixture corpus has no newlines, so
    // line structure is SYNTHESIZED deterministically — each doc joined
    // with its successor plus id-keyed bullet/ellipsis/duplicate lines,
    // the same device q_td_dedup_paragraphs uses)
    QueryDef("q_td_gopher_lines", gopherLinesOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.count()
      val succ = docs.select(col("doc_id").as("did2"), col("text").as("t2"))
      val synth = docs.join(succ, ((col("doc_id") + 1) % n) === col("did2"))
        .select(col("doc_id"), concat_ws("\n",
          col("text"),
          when(col("doc_id") % 3 === 0, lit("- bullet item"))
            .otherwise(lit("plain line")),
          col("t2"),
          when(col("doc_id") % 4 === 0, lit("to be continued..."))
            .otherwise(col("text")), // a duplicate of line 1
          lit("")).as("text"))       // empty trailing line — dropped
      TextOps.gopherLineRules(synth, "doc_id", "text").orderBy("doc_id")
    },

    // --------------------------- text: Gopher repetition rule gate
    // (the §A1.2 word-n-gram half: top-2/3/4-gram char fractions and
    // duplicate-5..10-gram char coverage against Table A1's caps)
    QueryDef("q_td_gopher_rep", gopherRepOracle) { (s, d) =>
      TextOps.gopherRepetitionRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // --------------------------------- text: C4 cleaning rule gate
    // (Raffel et al. 2020 §2.2 line+page heuristics; line structure
    // synthesized deterministically like q_td_gopher_lines, with
    // id-keyed kill-word / policy-phrase / lorem-ipsum / brace branches)
    QueryDef("q_td_c4", c4Oracle) { (s, d) =>
      val synth = Tables.documents(s, d).select(col("doc_id"), concat_ws("\n",
        concat(col("text"), lit(".")),
        lit("too short."),
        lit("this line has no terminal punctuation at all"),
        when(col("doc_id") % 5 === 0, lit("we use javascript on this page."))
          .otherwise(lit("a perfectly fine sentence with words.")),
        when(col("doc_id") % 7 === 0,
            lit("please read our Privacy Policy today."))
          .otherwise(lit("another good sentence ends right here!")),
        when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet."))
          .otherwise(lit("closing remarks conclude the page here?")),
        when(col("doc_id") % 13 === 0, lit("code snippet { embedded in page."))
          .otherwise(lit("final line of honest prose today."))).as("text"))
      TextOps.c4QualityRules(synth, "doc_id", "text").orderBy("doc_id")
    },

    // --------------------------- text: cross-source n-gram overlap audit
    // (which sources mirror each other — run before mixture design;
    // containment flags subset/mirror sources Jaccard dilutes)
    QueryDef("q_td_source_overlap", sourceOverlapOracle) { (s, d) =>
      TextOps.sourceOverlapMatrix(Tables.documents(s, d), "text", "source")
        .orderBy("source_a", "source_b")
    },

    // ------------------------------- text: corpus-order n-gram novelty
    // (share of a doc's n-gram occurrences that are corpus-first — the
    // score-level complement of q_td_substring_dedup's excision)
    QueryDef("q_td_novelty", noveltyOracle) { (s, d) =>
      TextOps.noveltyScores(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // -------------------------------------- text: lexical diversity scores
    // (rational quotients of integer aggregates — bit-identical across
    // engines; see TextOps.lexicalDiversity)
    QueryDef(
      "q_td_lexdiv",
      s"""WITH w AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS cnt FROM w GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  count(*) AS n_distinct,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS ttr,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS hapax_ratio,
         |  CAST(sum(cnt * cnt) AS DOUBLE)
         |    / (CAST(sum(cnt) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)) AS simpson
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.lexicalDiversity(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----------------------------- text: frequent n-grams per corpus group
    // (boilerplate/contamination-template discovery; same single-pass
    // bigram expansion as the MinHash shingle path)
    QueryDef(
      "q_td_ngram_freq",
      s"""WITH g AS (
         |  SELECT source, unnest(
         |    CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
         |    END) AS ngram
         |  FROM (SELECT source, $Words AS w FROM documents)),
         |c AS (SELECT source, ngram, count(*) AS cnt FROM g GROUP BY 1, 2)
         |SELECT source, ngram, cnt, rank FROM (
         |  SELECT source, ngram, cnt, row_number() OVER (
         |    PARTITION BY source ORDER BY cnt DESC, ngram) AS rank FROM c)
         |WHERE rank <= 10 ORDER BY source, rank""".stripMargin) { (s, d) =>
      TextOps.frequentNgrams(
        Tables.documents(s, d), "doc_id", "text", "source", k = 10)
        .orderBy("source", "rank")
    },

    // ----------------------------- text: per-source quality-share pruning
    // (keep the best 80% of each source by the composite quality score —
    // the curation cut applied before training; deterministic id
    // tie-break, ceil(frac×n) boundary identical in both engines)
    QueryDef(
      "q_td_quality_prune",
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |    round((CAST(len(list_distinct($Words)) AS DOUBLE) / len($Words))
         |      * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
         |               AS DOUBLE) / n_chars), 4) AS quality
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (
         |      PARTITION BY source ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM q)
         |SELECT doc_id, source, quality FROM r
         |WHERE rn <= CAST(ceil(n * 0.8) AS BIGINT) ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val ws = TextOps.tokens(col("text"))
        val punct = size(regexp_extract_all(
          col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0)))
        val quality = round(
          size(array_distinct(ws)).cast("double") / size(ws)
            * (lit(1.0) - punct.cast("double") / col("n_chars")), 4)
        TextOps.topFractionByGroup(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), quality.as("quality")),
          "source", "quality", "doc_id", frac = 0.8)
          .orderBy("doc_id")
    },

    // --------------------------------------------- text: token counting
    QueryDef(
      "q_td_tokens",
      s"""SELECT doc_id, len($Words) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---------------------------------- text: vocab-accurate BPE counts
    // GPT-2 byte-level BPE under a pinned two-rule merges table chosen so
    // the greedy merge has a declarative closed form the oracle can
    // state: rules "o n" and "i n" are letter-disjoint from every GPT-2
    // contraction tail (s,t,d,m,e,l), so a rule pair adjacent in raw
    // text is ALWAYS inside one pre-token, the two patterns cannot
    // overlap each other or themselves, and no rule consumes another's
    // output — each merge count is then exactly the non-overlapping
    // occurrence count replace() computes, and the token count is
    // utf8-byte-length minus total merges. (The Spark side runs the
    // real iterative merge loop; the algebra above is a property of
    // THIS vocab, which is what makes it oracle-checkable.)
    QueryDef(
      "q_td_tokens_bpe",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text))
        |    - (length(text) - length(replace(text, 'on', ''))) / 2
        |    - (length(text) - length(replace(text, 'in', ''))) / 2
        |    AS INT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.bpeTokenCounts(Tables.documents(s, d), "doc_id", "text",
        Seq("o n", "i n")).orderBy("doc_id")
    },

    // --------------------- text: INDUCED-BPE round trip (learn → count)
    // (q_td_tokens_bpe pins a hand-written merge table; this one LEARNS
    // the vocabulary live with bpeInduce over a fixed seed corpus — the
    // golden-locked corpus of OpsSpec — then counts tokens under the
    // learned table. The oracle pins the end-to-end result as literals:
    // per-doc counts plus the sha-256 fingerprint of the learned merge
    // list, so a tie-break / histogram / encoder regression anywhere in
    // the learn→encode chain fails the driver's compare. DuckDB cannot
    // learn the vocab; the literals ARE the golden lock, driver-checked.)
    QueryDef(
      "q_td_vocab_induced",
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(bpe_tokens AS INT) AS bpe_tokens, vocab_sha
         |FROM (VALUES
         |  (1, 19, '$InducedVocabSha'), (2, 21, '$InducedVocabSha'),
         |  (3, 15, '$InducedVocabSha'), (4, 18, '$InducedVocabSha'),
         |  (5, 18, '$InducedVocabSha'), (6, 13, '$InducedVocabSha'))
         |  AS t(doc_id, bpe_tokens, vocab_sha)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val corpus = BpeSeedCorpus.toDF("doc_id", "text")
      val learned = TextOps.bpeInduce(corpus, "text", numMerges = 24)
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(learned.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      TextOps.bpeTokenCounts(corpus, "doc_id", "text", learned)
        .withColumn("vocab_sha", lit(sha))
        .orderBy("doc_id")
    },

    // ------------------------------------------------- text: chunking
    // 64-token windows, 16-token overlap (stride 48); trailing windows
    // adding no tokens beyond the previous overlap are suppressed
    QueryDef(
      "q_td_chunking",
      s"""WITH tk AS (
         |  SELECT doc_id, $Words AS toks FROM documents),
         |n AS (
         |  SELECT doc_id, toks, len(toks) AS t,
         |         GREATEST(1, (len(toks) - 16 + 47) // 48) AS nc
         |  FROM tk),
         |c AS (
         |  SELECT doc_id, toks, t,
         |         unnest(generate_series(0, nc - 1)) AS chunk_idx
         |  FROM n)
         |SELECT doc_id, chunk_idx,
         |       chunk_idx * 48 AS start_tok,
         |       LEAST(chunk_idx * 48 + 64, t) AS end_tok,
         |       LEAST(chunk_idx * 48 + 64, t) - chunk_idx * 48 AS n_tokens,
         |       array_to_string(
         |         toks[chunk_idx * 48 + 1 : LEAST(chunk_idx * 48 + 64, t)],
         |         ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      TextOps.chunk(Tables.documents(s, d), "doc_id", "text", 64, 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // ----------------------------------------------- text: fingerprints
    QueryDef(
      "q_td_fingerprint",
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform($Words, w -> ${H("w")})),
         |    (a, b) -> (a * 131 + b) % ${TextOps.FingerprintPrime}) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.fingerprints(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ------------------------------------------------- text: PII redaction
    QueryDef(
      "q_td_redact",
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.redact(col("text")).as("redacted"))
        .orderBy("doc_id")
    },

    // ----------------------------- text: TF-IDF characteristic terms per doc
    // (rational idf N/df — exact integer-derived arithmetic, bit-identical
    // across engines; see TextOps.tfIdfTopTerms)
    QueryDef(
      "q_td_tfidf",
      s"""WITH w AS (SELECT doc_id, unnest($Words) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS cnt FROM w GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tok FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    (CAST(cnt AS DOUBLE) / CAST(tok AS DOUBLE))
         |      * (CAST(n.n AS DOUBLE) / CAST(dfc AS DOUBLE)) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n)
         |SELECT doc_id, term, score, rank FROM (
         |  SELECT doc_id, term, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      TextOps.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },

    // ------------------------- explode + aggregate: corpus word frequencies
    QueryDef(
      "q_td_wordcount",
      s"""SELECT w, count(*) AS n FROM (
         |  SELECT unnest($Words) AS w FROM documents)
         |GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(20)
    },

    // -------------------------------------- deterministic stratified sample
    QueryDef(
      "q_td_sample",
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY ${H("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 25 ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextOps.stratifiedSample(
        Tables.documents(s, d).select("doc_id", "lang"), "doc_id", "lang", 25)
        .orderBy("doc_id")
    },

    // ------------------------------------ deterministic train/val/test split
    QueryDef(
      "q_td_split",
      s"""SELECT doc_id,
         |  CASE WHEN ${H("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${H("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.splitAssignment(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },

    // ------------------- end-to-end curation pipeline as one declarative plan
    // redact → quality-gate → exact-dedup (keep canonical) → split → counts:
    // the composition a real training-data curation job runs, verified as
    // one oracle query.
    QueryDef(
      "q_td_curation",
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      'https?://[^\\s]+', '<URL>', 'g'),
         |      '[0-9]{6,}', '<NUM>', 'g') AS clean,
         |    len(list_distinct($Words)) AS n_distinct,
         |    len($Words) AS n_tokens
         |  FROM documents),
         |gated AS (
         |  SELECT * FROM scored
         |  WHERE n_tokens >= 20 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3),
         |dedup AS (
         |  SELECT min(doc_id) AS doc_id, sha256(clean) AS content_sha
         |  FROM gated GROUP BY sha256(clean))
         |SELECT
         |  CASE WHEN ${H("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${H("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs
         |FROM dedup GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      val scored = Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.redact(col("text")).as("clean"),
        size(array_distinct(ws)).as("n_distinct"),
        size(ws).as("n_tokens"))
      val gated = scored.filter(col("n_tokens") >= 20 &&
        col("n_distinct").cast("double") / col("n_tokens") >= 0.3)
      val dedup = gated.groupBy(sha2(col("clean"), 256).as("content_sha"))
        .agg(min(col("doc_id")).as("doc_id"))
      dedup
        .groupBy(TextOps.splitAssignment(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("split")
    },

    // ------------------------------------------- multimodal: binary plumbing
    // Opaque binary payload column + typed metadata extraction. The decode
    // itself is the deterministic stand-in (see graft.ops.MultimodalOps for
    // the partition-level pipeline); here the Spark-side plumbing — binary
    // column, byte length, content hash, derived dimensions — is verified.
    QueryDef(
      "q_td_multimodal_meta",
      s"""SELECT doc_id,
         |  octet_length(encode(text)) AS n_bytes,
         |  sha256(text) AS content_sha,
         |  ${H("text")} % 1920 AS fake_width,
         |  ${H("text")} % 1080 AS fake_height
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          sha2(col("text"), 256).as("content_sha"),
          (TextOps.portableHash(col("text")) % 1920).as("fake_width"),
          (TextOps.portableHash(col("text")) % 1080).as("fake_height"))
        .orderBy("doc_id")
    },

    // ----------------- text: vocabulary coverage / OOV counting per doc
    // (vocab = the English stopword list — small here; the operator
    // broadcasts any vocabulary)
    QueryDef("q_td_vocab", vocabOracle) { (s, d) =>
      import s.implicits._
      val vocab = VocabWords.toDF("tok")
      TextOps.vocabCoverage(Tables.documents(s, d), "doc_id", "text",
        vocab, "tok").orderBy("doc_id")
    },

    // ------------------------ curation: per-source corpus report card
    // (one-pass profiling aggregate, run before/after every curation step)
    QueryDef(
      "q_td_report",
      s"""SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(len($Words)) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(len($Words)) AS BIGINT) / count(*) AS mean_tokens
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      TextOps.corpusReport(Tables.documents(s, d),
        "doc_id", "text", "source", "lang")
        .orderBy("source")
    },

    // -------------------- curation: cross-source score normalization
    // (percentile rank within source — one threshold over many sources)
    QueryDef(
      "q_td_pct_rank",
      """SELECT source, doc_id, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |    AS pct_rank
        |FROM documents ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      TextOps.percentileRankByGroup(
        Tables.documents(s, d).select("source", "doc_id", "n_chars"),
        "source", "n_chars", "doc_id")
        .orderBy("source", "doc_id")
    },

    // ------------------ curation: deterministic training-order shuffle
    // (portable-hash sort: same corpus -> same example order, any engine)
    QueryDef(
      "q_td_shuffle",
      s"""SELECT doc_id, ${H("CAST(doc_id AS VARCHAR)")} % 1000000000
         |    AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin) { (s, d) =>
      TextOps.trainingOrder(
        Tables.documents(s, d).select("doc_id"), "doc_id")
    },

    // ------------------- dedup: span-level repeated n-grams (boilerplate)
    // Substring-granular signal doc-level dedup misses: positions whose
    // 5-gram recurs in >= 2 distinct docs (licence blocks, navigation
    // chrome). One explode + hash aggregate on the gram hash — O(tokens),
    // never O(docs²).
    QueryDef("q_td_repeated_spans", repeatedSpansOracle) { (s, d) =>
      TextOps.repeatedSpanCounts(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id")
    },

    // ------------- dedup: cross-document exact substring EXCISION
    // (Lee et al. 2022's span-removal pass, word-6-gram approximation of
    // the suffix-array repeat scan: every duplicated k-gram occurrence
    // except the corpus-wide first is erased and the document re-stitched
    // from surviving words — keep-first at substring granularity, where
    // q_td_repeated_spans only SCORES the overlap)
    QueryDef("q_td_substring_dedup", substringDedupOracle) { (s, d) =>
      TextOps.dedupSubstrings(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---------------- curation: DSIR hashed n-gram importance weights
    // (Xie et al. 2023 — select raw-corpus docs that LOOK like a target
    // domain by bag-of-hashed-ngrams log likelihood ratio; here: steer
    // the non-English pool toward the English docs' n-gram profile.
    // Integer micro-nat quantization keeps the per-doc reduction exact.)
    QueryDef("q_td_dsir", dsirOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.dsirWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text")
        .orderBy("doc_id")
    },

    // ------------- curation: DSIR importance resampling DRAW (Gumbel
    // top-k: weighted sample without replacement by exp(logw), the
    // selection step Xie et al. actually run — sampling, not a hard cut)
    QueryDef("q_td_dsir_sample", dsirSampleOracle(DsirSampleK)) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.dsirSample(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", k = DsirSampleK)
        .orderBy("doc_id")
    },

    // ----------------------- curation: source-mixture plan + deterministic
    // sample (domain reweighting under a token budget; src0 is weighted
    // past its availability to exercise the rate cap)
    QueryDef("q_td_mixture", mixtureOracle) { (s, d) =>
      TextOps.mixturePlan(Tables.documents(s, d), "doc_id", "source", "text",
        MixtureWeights, MixtureBudget)
        .orderBy("source")
    },

    // ----------------------- curation: temperature (α-sampling) source
    // weights — rate ∝ tokens^α, max-normalized micro weights (the
    // T5/GPT-3/Llama mixture device; feeds mixturePlan)
    QueryDef(
      "q_td_mixture_temp",
      raw"""WITH t AS (
           |  SELECT source,
           |    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT)
           |      AS avail_tokens
           |  FROM documents GROUP BY source),
           |m AS (SELECT CAST(max(avail_tokens) AS BIGINT) AS mx FROM t)
           |SELECT source, avail_tokens,
           |  CAST(round(1e6 * pow(CAST(avail_tokens AS DOUBLE) / mx, 0.7))
           |    AS BIGINT) AS w_micro
           |FROM t CROSS JOIN m ORDER BY source""".stripMargin) { (s, d) =>
      TextOps.temperatureWeights(Tables.documents(s, d), "source", "text",
        alpha = 0.7)
        .orderBy("source")
    },

    // ------------- curation: CCNet-style LM perplexity scoring (Wenzek
    // et al. 2020 — bigram LM learned on the 'en' reference slice scores
    // every non-'en' document's cross-entropy; low = reference-like)
    QueryDef("q_td_perplexity", perplexityOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.lmPerplexityScores(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text")
        .orderBy("doc_id")
    },

    // ------------- curation: perplexity via the PERSISTED LM index —
    // the train-once/score-many surface; same oracle as q_td_perplexity
    // (a reloaded model must reproduce in-session scores bit-for-bit)
    QueryDef("q_td_perplexity_index", perplexityOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("lang") === "en")
      // staged-reuse as q_td_dedup_index: sha256-keyed root revalidated
      // against the build-time source count
      val root = s"/tmp/graft_engine/lmindex_v1_${EngineOps.dirKey(d)}"
      val n = ref.count()
      val idx = {
        val existing = graft.ops.LmIndex(s, root)
        if (existing.exists && existing.sourceCount.contains(n)) existing
        else graft.ops.LmIndex.create(s, ref, "doc_id", "text", root)
      }
      idx.score(docs.filter(col("lang") =!= "en"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ------------- curation: CCNet's selection step — keep the best-
    // fitting half of each source under the reference LM (the paper's
    // head/middle cut as a per-group fraction)
    QueryDef("q_td_perplexity_prune", perplexityPruneOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextOps.perplexityPrune(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", "source", frac = 0.5)
        .orderBy("doc_id")
    },

    // ------------- curation: fastText-shape classifier inference (the
    // FineWeb-Edu / DCLM model-based quality gate: offline-trained
    // hashed-n-gram weights applied to every document; the weight table
    // here is deterministic so both engines can restate it)
    QueryDef("q_td_classifier", classifierOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val b = TextOps.DsirBuckets
      val weights = s.range(b.toLong).select(
        col("id").as("bucket"),
        (pmod(graft.ops.TextOps.portableHash(col("id").cast("string")),
          lit(2000001L)) - lit(1000000L)).as("w_micro"))
      TextOps.classifierScores(docs, weights, "doc_id", "text")
        .orderBy("doc_id")
    }
  )

  // --------------------------------------------------- generated oracles

  /** MinHash signature columns `s0..s15` over a `hs` shingle-set column —
    * the ONE place the signature scheme is stated in SQL (shared by the
    * self-join and cross-corpus oracles; desynchronizing them would break
    * only one query's parity, silently). */
  private def sigColsSql: String =
    TextOps.MinHashA.zip(TextOps.MinHashB).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % ${TextOps.MinHashPrime})) AS s$i"
    }.mkString(",\n  ")

  /** LSH band rows `(id, pos, key)` from a signature CTE. */
  private def bandSelectsSql(sig: String): String =
    (0 until TextOps.Bands).map { j =>
      val slots = (0 until TextOps.RowsPerBand)
        .map(r => s"s${j * TextOps.RowsPerBand + r}").mkString(", ")
      s"SELECT id, $j AS pos, concat_ws(':', $slots) AS key FROM $sig"
    }.mkString("\n  UNION ALL ")

  /** Shared CTE chain ending in `pairs(id_a, id_b, inter, uni)` — the
    * MinHash+LSH candidate pairs with exact Jaccard counts. */
  private def minHashPairsCtes: String = {
    s"""d AS (
       |  SELECT id, hs FROM ($ShingleDocs) WHERE len(hs) > 0),
       |sig AS (SELECT id,
       |  $sigColsSql
       |  FROM d),
       |bands AS (
       |  ${bandSelectsSql("sig")}),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.pos = b.pos AND a.key = b.key AND a.id < b.id),
       |pairs AS (
       |  SELECT p.id_a, p.id_b,
       |    len(list_intersect(x.hs, y.hs)) AS inter,
       |    len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS uni
       |  FROM cand p JOIN d x ON x.id = p.id_a JOIN d y ON y.id = p.id_b)""".stripMargin
  }

  private def minHashOracle: String =
    s"""WITH $minHashPairsCtes
       |SELECT id_a, id_b, inter, uni FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** Cross-corpus variant: the same signature/band chain built twice over
    * disjoint id slices, joined across sides only. */
  private def crossCorpusOracle: String = {
    s"""WITH sh AS ($ShingleDocs),
       |d_in AS (SELECT id, hs FROM sh WHERE id % 10 = 0 AND len(hs) > 0),
       |d_c AS (SELECT id, hs FROM sh WHERE id % 10 <> 0 AND len(hs) > 0),
       |sig_in AS (SELECT id,
       |  $sigColsSql
       |  FROM d_in),
       |sig_c AS (SELECT id,
       |  $sigColsSql
       |  FROM d_c),
       |bands_in AS (
       |  ${bandSelectsSql("sig_in")}),
       |bands_c AS (
       |  ${bandSelectsSql("sig_c")}),
       |cand AS (
       |  SELECT DISTINCT a.id AS in_id, b.id AS corpus_id
       |  FROM bands_in a JOIN bands_c b ON a.pos = b.pos AND a.key = b.key)
       |SELECT p.in_id, p.corpus_id,
       |  len(list_intersect(x.hs, y.hs)) AS inter,
       |  len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS uni
       |FROM cand p JOIN d_in x ON x.id = p.in_id JOIN d_c y ON y.id = p.corpus_id
       |ORDER BY in_id, corpus_id""".stripMargin
  }

  /** Dedup groups: transitive closure (recursive CTE) over the
    * Jaccard-thresholded near-dup pairs; group id = min reachable doc id.
    * The threshold predicate is integer-exact (2*inter >= uni ⇔ J >= 0.5)
    * so both engines select identical edges. */
  private def dedupGroupsOracle: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |jp AS (SELECT id_a, id_b FROM pairs WHERE 2 * inter >= uni),
       |edges AS (SELECT id_a AS a, id_b AS b FROM jp
       |          UNION SELECT id_b, id_a FROM jp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, least(a, min(b)) AS group_id,
       |       a = least(a, min(b)) AS is_canonical
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  private def simHashOracle: String = {
    val terms = (0 until TextOps.SimHashBits).map { j =>
      s"""(CASE WHEN list_sum(list_transform(hs,
         |    h -> CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString("\n + ")
    s"""WITH d AS (
       |  SELECT doc_id, list_transform(list_distinct($Words), w -> ${H("w")}) AS hs
       |  FROM documents)
       |SELECT doc_id,
       | $terms
       | AS simhash
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Sequential left-fold sum with 0.0 seed — bit-identical to Spark's
    * `aggregate(_, 0.0, (a,x) -> a+x)`. */
  private def foldSumSql(items: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $items), (a, b) -> a + b)"

  private def cosineSql(x: String, y: String): String = {
    def dot(p: String, q: String) =
      foldSumSql(s"list_transform(range(1, len($p) + 1), i -> $p[i] * $q[i])")
    // zero-norm guard mirrors graft_cosine exactly: NULL, never NaN —
    // DuckDB's 0.0/0.0 = NaN would sort ABOVE every real cosine and rank
    // a zero vector as everyone's top match while Spark ranks it last
    s"CASE WHEN ${dot(x, x)} * ${dot(y, y)} = 0 THEN NULL " +
      s"ELSE ${dot(x, y)} / sqrt(${dot(x, x)} * ${dot(y, y)}) END"
  }

  private def knnOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql("q.v", "c.v")} AS cos
       |  FROM e q, e c
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Per-table bucket-key expression with the same literal coefficients
    * and the same sequential fold as [[SimilarityOps.lshBucketKeys]]. */
  private def lshKeySql(vec: String, table: Int): String = {
    val planes = SimilarityOps.planeCoefficients(64)
    (0 until SimilarityOps.BitsPerTable).map { b =>
      val coefs = planes(table * SimilarityOps.BitsPerTable + b)
        .mkString("[", ", ", "]")
      val d = foldSumSql(
        s"list_transform(range(1, len($vec) + 1), i -> $vec[i] * ($coefs)[i])")
      s"(CASE WHEN $d >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n + ")
  }

  private def annOracle: String = {
    val tableSelects = (0 until SimilarityOps.Tables).map { t =>
      s"SELECT vec_id, $t AS tbl,\n ${lshKeySql("v", t)}\n AS key FROM e"
    }.mkString("\n UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (
       | $tableSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b a JOIN b c
       |    ON a.tbl = c.tbl AND a.key = c.key AND a.vec_id <> c.vec_id
       |  WHERE a.vec_id < 10),
       |s AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("q.v", "c.v")} AS cos
       |  FROM cand JOIN e q ON q.vec_id = query_id
       |            JOIN e c ON c.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  private def ivfOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cent.cid, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cent.cid, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent WHERE e.vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id),
       |s AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("q.v", "c.v")} AS cos
       |  FROM cand JOIN e q ON q.vec_id = query_id
       |            JOIN e c ON c.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** PQ/ADC oracle: m=4 subspaces × 16 dims, 16-entry sub-codebooks from
    * the first 16 vectors, queries vec_id < 10, k = 5. Subspace reductions
    * are pivoted and summed left-associatively, mirroring pqTopK's
    * `((p0+p1)+p2)+p3` exactly. */
  private def pqOracle: String = {
    def dotSql(p: String, q: String) =
      foldSumSql(s"list_transform(range(1, len($p) + 1), i -> $p[i] * $q[i])")
    val m = 4
    val pPivot = (0 until m).map(s =>
      s"sum(CASE WHEN l.sub = $s THEN l.pdot END) AS p$s").mkString(",\n    ")
    val cPivot = (0 until m).map(s =>
      s"sum(CASE WHEN l.sub = $s THEN c.cnorm2 END) AS c$s").mkString(",\n    ")
    val adot = (1 until m).foldLeft("p0") { (acc, s) => s"($acc + p$s)" }
    val rnorm2 = (1 until m).foldLeft("c0") { (acc, s) => s"($acc + c$s)" }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |subs AS (SELECT unnest([0, 1, 2, 3]) AS sub),
       |cb AS (
       |  SELECT sub, vec_id AS cid, centv, ${dotSql("centv", "centv")} AS cnorm2
       |  FROM (SELECT subs.sub, e.vec_id,
       |          e.v[subs.sub * 16 + 1 : subs.sub * 16 + 16] AS centv
       |        FROM e CROSS JOIN subs WHERE e.vec_id < 16)),
       |codes AS (
       |  SELECT vec_id, sub, cid, cnorm2 FROM (
       |    SELECT e.vec_id, cb.sub, cb.cid, cb.cnorm2, row_number() OVER (
       |      PARTITION BY e.vec_id, cb.sub
       |      ORDER BY ${cosineSql(
                "e.v[cb.sub * 16 + 1 : cb.sub * 16 + 16]", "cb.centv")}
       |        DESC NULLS LAST, cb.cid) AS rn
       |    FROM e CROSS JOIN cb)
       |  WHERE rn = 1),
       |qn AS (SELECT vec_id AS query_id, ${dotSql("v", "v")} AS qnorm2
       |       FROM e WHERE vec_id < 10),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.cid,
       |    ${dotSql("q.v[cb.sub * 16 + 1 : cb.sub * 16 + 16]", "cb.centv")} AS pdot
       |  FROM e q CROSS JOIN cb WHERE q.vec_id < 10),
       |parts AS (
       |  SELECT l.query_id, c.vec_id,
       |    $pPivot,
       |    $cPivot
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.cid
       |  WHERE l.query_id <> c.vec_id
       |  GROUP BY l.query_id, c.vec_id),
       |s AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    CASE WHEN qnorm2 * $rnorm2 = 0 THEN NULL
       |         ELSE $adot / sqrt(qnorm2 * $rnorm2) END AS approx_cos
       |  FROM parts JOIN qn USING (query_id))
       |SELECT query_id, neighbor_id, rank, approx_cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id
       |    ORDER BY approx_cos DESC NULLS LAST, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ oracle: [[ivfOracle]]'s probe-limited candidate set (coarse
    * codebook = first 16 vectors, nProbe = 2) scored by [[pqOracle]]'s
    * compressed-domain ADC (m = 4 subspaces × 16 dims, 16-entry
    * sub-codebooks), queries vec_id < 10, k = 5 — exactly what the
    * persistent IVF-PQ index computes through its stored tables. */
  private def ivfPqOracle: String = {
    def dotSql(p: String, q: String) =
      foldSumSql(s"list_transform(range(1, len($p) + 1), i -> $p[i] * $q[i])")
    val m = 4
    val pPivot = (0 until m).map(s =>
      s"sum(CASE WHEN l.sub = $s THEN l.pdot END) AS p$s").mkString(",\n    ")
    val cPivot = (0 until m).map(s =>
      s"sum(CASE WHEN l.sub = $s THEN c.cnorm2 END) AS c$s").mkString(",\n    ")
    val adot = (1 until m).foldLeft("p0") { (acc, s) => s"($acc + p$s)" }
    val rnorm2 = (1 until m).foldLeft("c0") { (acc, s) => s"($acc + c$s)" }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cent.cid, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cent.cid, row_number() OVER (
       |      PARTITION BY e.vec_id
       |      ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent WHERE e.vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id),
       |subs AS (SELECT unnest([0, 1, 2, 3]) AS sub),
       |cb AS (
       |  SELECT sub, vec_id AS cid, centv, ${dotSql("centv", "centv")} AS cnorm2
       |  FROM (SELECT subs.sub, e.vec_id,
       |          e.v[subs.sub * 16 + 1 : subs.sub * 16 + 16] AS centv
       |        FROM e CROSS JOIN subs WHERE e.vec_id < 16)),
       |codes AS (
       |  SELECT vec_id, sub, cid, cnorm2 FROM (
       |    SELECT e.vec_id, cb.sub, cb.cid, cb.cnorm2, row_number() OVER (
       |      PARTITION BY e.vec_id, cb.sub
       |      ORDER BY ${cosineSql(
                "e.v[cb.sub * 16 + 1 : cb.sub * 16 + 16]", "cb.centv")}
       |        DESC NULLS LAST, cb.cid) AS rn
       |    FROM e CROSS JOIN cb)
       |  WHERE rn = 1),
       |qn AS (SELECT vec_id AS query_id, ${dotSql("v", "v")} AS qnorm2
       |       FROM e WHERE vec_id < 10),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.cid,
       |    ${dotSql("q.v[cb.sub * 16 + 1 : cb.sub * 16 + 16]", "cb.centv")} AS pdot
       |  FROM e q CROSS JOIN cb WHERE q.vec_id < 10),
       |parts AS (
       |  SELECT l.query_id, c.vec_id,
       |    $pPivot,
       |    $cPivot
       |  FROM codes c
       |  JOIN lut l ON l.sub = c.sub AND l.cid = c.cid
       |  JOIN cand ON cand.query_id = l.query_id AND cand.neighbor_id = c.vec_id
       |  GROUP BY l.query_id, c.vec_id),
       |s AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    CASE WHEN qnorm2 * $rnorm2 = 0 THEN NULL
       |         ELSE $adot / sqrt(qnorm2 * $rnorm2) END AS approx_cos
       |  FROM parts JOIN qn USING (query_id))
       |SELECT query_id, neighbor_id, rank, approx_cos FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id
       |    ORDER BY approx_cos DESC NULLS LAST, neighbor_id) AS rank
       |  FROM s)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private def clusterOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid, cos FROM (
       |    SELECT e.vec_id, cent.cid, ${cosineSql("e.v", "cent.centv")} AS cos,
       |      row_number() OVER (
       |        PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent)
       |  WHERE rn = 1)
       |SELECT vec_id, cid AS cluster_id, cos,
       |       count(*) OVER (PARTITION BY cid) AS cluster_size
       |FROM assign ORDER BY vec_id""".stripMargin

  private def semDedupOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS centv FROM e WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cid AS cluster_id FROM (
       |    SELECT e.vec_id, cent.cid,
       |      row_number() OVER (
       |        PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.v", "cent.centv")} DESC, cent.cid) AS rn
       |    FROM e, cent)
       |  WHERE rn = 1),
       |m AS (
       |  SELECT a.vec_id, a.cluster_id, e.v
       |  FROM assign a JOIN e ON e.vec_id = a.vec_id),
       |dropped AS (
       |  SELECT DISTINCT x.vec_id FROM m x JOIN m y
       |    ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id
       |   AND ${cosineSql("x.v", "y.v")} >= 0.4)
       |SELECT a.vec_id, a.cluster_id, (d.vec_id IS NULL) AS keep
       |FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  private def embedNearDupOracle: String = {
    val tableSelects = (0 until SimilarityOps.Tables).map { t =>
      s"SELECT vec_id, $t AS tbl,\n ${lshKeySql("v", t)}\n AS key FROM e"
    }.mkString("\n UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (
       | $tableSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM b a JOIN b c
       |    ON a.tbl = c.tbl AND a.key = c.key AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b, ${cosineSql("x.v", "y.v")} AS cos
       |  FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b)
       |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  private def langOracle: String = {
    val counts = TextOps.StopwordsByLang.map { case (lang, stops) =>
      s"len(list_filter($Words, w -> list_contains(" +
        s"[${stops.map(w => s"'$w'").mkString(",")}], w))) AS n_$lang"
    }.mkString(",\n  ")
    // nested CASE equivalent to the strict-argmax fold in TextOps.langGuess
    val langs = TextOps.StopwordsByLang.map(_._1)
    val cases = langs.indices.reverse.drop(1).map { i =>
      val prior = langs.take(i + 1).map(l => s"n_$l")
      val greatestPrior =
        if (prior.size == 1) prior.head else s"greatest(${prior.mkString(", ")})"
      s"WHEN n_${langs(i + 1)} > $greatestPrior THEN '${langs(i + 1)}'"
    }.mkString("\n    ")
    s"""SELECT doc_id, ${langs.map(l => s"n_$l").mkString(", ")},
       |  CASE $cases
       |    ELSE '${langs.head}' END AS guess
       |FROM (SELECT doc_id, $counts FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  private[queries] def VocabWords: Seq[String] =
    TextOps.StopwordsByLang.collectFirst { case ("en", ws) => ws }.get

  private def vocabOracle: String = {
    val values = VocabWords.map(w => s"('$w')").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest($Words) AS tok FROM documents),
       |v(tok) AS (VALUES $values)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(count(v.tok) AS BIGINT) AS in_vocab
       |FROM w LEFT JOIN v ON w.tok = v.tok
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def dedupBestOracle: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |jp AS (SELECT id_a, id_b FROM pairs WHERE 2 * inter >= uni),
       |edges AS (SELECT id_a AS a, id_b AS b FROM jp
       |          UNION SELECT id_b, id_a FROM jp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |grp AS (SELECT a AS doc_id, least(a, min(b)) AS group_id
       |        FROM reach GROUP BY a),
       |scored AS (
       |  SELECT g.doc_id, g.group_id, CAST(length(d.text) AS BIGINT) AS score
       |  FROM grp g JOIN documents d ON d.doc_id = g.doc_id),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY group_id ORDER BY score DESC, doc_id)
       |      AS rn,
       |    CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS n_members
       |  FROM scored)
       |SELECT group_id, doc_id AS rep_id, score AS rep_score, n_members
       |FROM ranked WHERE rn = 1 ORDER BY group_id""".stripMargin

  /** Nested-parenthesis SQL for the rolling n-gram hash at list position
    * `i` — the exact fold of [[TextOps.ngramHashes]] over a `hw`
    * word-hash list. */
  private def ngramHashSql(n: Int, idx: String = "i",
      mult: Long = 1000003L): String =
    (1 until n).foldLeft(s"hw[$idx]") { (acc, j) =>
      s"(($acc) * $mult + hw[$idx+$j]) % ${TextOps.ShingleMod}"
    }

  // `def`, not `val`: referenced from the `all` initializer above — a val
  // here would still be 0 at that point (object init order)
  private def SpanN = 5

  private def repeatedSpansOracle: String =
    s"""WITH hw AS (
       |  SELECT doc_id, list_transform($Words, w -> ${H("w")}) AS hw
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(hw) < $SpanN
       |      THEN CAST([] AS BIGINT[])
       |      ELSE list_transform(range(1, len(hw) - ${SpanN - 2}),
       |        i -> ${ngramHashSql(SpanN)}) END) AS gram_h
       |  FROM hw),
       |rep AS (
       |  SELECT gram_h FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |per AS (
       |  SELECT g.doc_id, count(*) AS total_spans,
       |    CAST(sum(CASE WHEN r.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS repeated_spans
       |  FROM g LEFT JOIN rep r ON g.gram_h = r.gram_h GROUP BY 1)
       |SELECT d.doc_id AS id,
       |  coalesce(p.total_spans, 0) AS total_spans,
       |  coalesce(p.repeated_spans, 0) AS repeated_spans
       |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
       |ORDER BY id""".stripMargin

  /** Substring-excision oracle — mirrors [[TextOps.dedupSubstrings]]
    * clause for clause: k-gram occurrences with positions, corpus-order
    * winner per gram hash, erased-position union, single-space
    * reassembly of survivors. Integer/string arithmetic only. */
  private def substringDedupOracle: String = {
    val k = TextOps.SubstringGramK
    s"""WITH toks AS (
       |  SELECT doc_id, $Words AS ws FROM documents),
       |hw AS (
       |  SELECT doc_id, ws, list_transform(ws, w -> ${H("w")}) AS hw
       |  FROM toks),
       |grams AS (
       |  SELECT doc_id, pos, (${ngramHashSql(k, "pos")}) AS g,
       |    (${ngramHashSql(k, "pos", TextOps.ShingleMult2)}) AS g2
       |  FROM (SELECT doc_id, hw, unnest(range(1, len(hw) - ${k - 2})) AS pos
       |        FROM hw WHERE len(hw) >= $k)),
       |winners AS (
       |  SELECT g, g2, min(doc_id * ${TextOps.OrdScale} + pos) AS w
       |  FROM grams GROUP BY g, g2),
       |dups AS (
       |  SELECT gr.doc_id, gr.pos FROM grams gr
       |  JOIN winners wi ON gr.g = wi.g AND gr.g2 = wi.g2
       |  WHERE gr.doc_id * ${TextOps.OrdScale} + gr.pos <> wi.w),
       |removed AS (
       |  SELECT DISTINCT doc_id, pos + j AS rp
       |  FROM dups, (SELECT unnest(range(0, $k)) AS j)),
       |words AS (
       |  SELECT doc_id, unnest(range(1, len(ws)+1)) AS pos, ws FROM toks),
       |kept AS (
       |  SELECT w.doc_id, w.pos, w.ws[w.pos] AS word
       |  FROM words w LEFT JOIN removed r
       |    ON r.doc_id = w.doc_id AND r.rp = w.pos
       |  WHERE r.rp IS NULL),
       |stitched AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS txt
       |  FROM kept GROUP BY doc_id),
       |nd AS (SELECT doc_id, count(*) AS nd FROM dups GROUP BY 1),
       |nr AS (SELECT doc_id, count(*) AS nr FROM removed GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_words,
       |  coalesce(nd.nd, 0) AS n_dup_grams,
       |  coalesce(nr.nr, 0) AS n_removed,
       |  coalesce(st.txt, '') AS kept_text
       |FROM toks t LEFT JOIN nd USING (doc_id) LEFT JOIN nr USING (doc_id)
       |LEFT JOIN stitched st USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Gopher-rules oracle — mirrors [[TextOps.gopherQualityRules]]: every
    * flag an exact integer comparison (cross-multiplied ratios). */
  private def gopherOracle: String = {
    val stops = TextOps.GopherRequiredStopwords.map(w => s"'$w'").mkString(",")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_len,
       |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
       |    CAST((len(text) - len(replace(text, '...', ''))) // 3
       |      + (len(text) - len(replace(text, '…', ''))) AS BIGINT)
       |      AS n_ellipsis,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
       |      AS BIGINT) AS n_alpha_words,
       |    CAST(len(list_intersect(list_distinct(list_transform(ws,
       |      w -> lower(w))), [$stops])) AS BIGINT) AS n_req_stopwords
       |  FROM (SELECT doc_id, text, $Words AS ws FROM documents))
       |SELECT doc_id, n_words,
       |  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
       |  n_hash, n_ellipsis, n_alpha_words, n_req_stopwords,
       |  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       |  (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
       |    AS ok_mean_word_len,
       |  (n_hash * 10 <= n_words) AS ok_hash_ratio,
       |  (n_ellipsis * 10 <= n_words) AS ok_ellipsis_ratio,
       |  (n_alpha_words * 5 >= n_words * 4) AS ok_alpha_words,
       |  (n_req_stopwords >= 2) AS ok_stopwords,
       |  ((n_words >= 50 AND n_words <= 100000)
       |    AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
       |    AND (n_hash * 10 <= n_words)
       |    AND (n_ellipsis * 10 <= n_words)
       |    AND (n_alpha_words * 5 >= n_words * 4)
       |    AND (n_req_stopwords >= 2)) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Gopher repetition oracle — mirrors [[TextOps.gopherRepetitionRules]]:
    * per-n gram occurrences with in-row summed word lengths, count×max-len
    * maxima for the top fractions, a position-union join for duplicate
    * coverage, Table A1 caps as exact integer cross-multiplications. */
  private def gopherRepOracle: String = {
    val topNs = TextOps.GopherTopNgramMaxPct
    val dupNs = TextOps.GopherDupNgramMaxPct
    def gramSel(n: Int): String =
      s"""SELECT doc_id, $n AS n, i AS pos, (${ngramHashSql(n)}) AS g,
         |    CAST(list_sum(ls[i:i+${n - 1}]) AS BIGINT) AS c
         |  FROM (SELECT doc_id, hw, ls, unnest(range(1, len(hw) - ${n - 2}))
         |          AS i
         |        FROM hwl WHERE len(hw) >= $n)""".stripMargin
    val grams = (topNs.map(_._1) ++ dupNs.map(_._1)).map(gramSel)
      .mkString("\n  UNION ALL\n  ")
    val aggCols = (topNs.map { case (n, _) =>
        s"coalesce(max(CASE WHEN kind = 't' AND n = $n THEN v END), 0) " +
          s"AS top${n}_chars"
      } ++ dupNs.map { case (n, _) =>
        s"coalesce(max(CASE WHEN kind = 'd' AND n = $n THEN v END), 0) " +
          s"AS dup${n}_chars"
      }).mkString(",\n    ")
    val okCols = (topNs.map { case (n, pct) =>
        s"(top${n}_chars * 100 <= word_chars * $pct) AS ok_top$n"
      } ++ dupNs.map { case (n, pct) =>
        s"(dup${n}_chars * 100 <= word_chars * $pct) AS ok_dup$n"
      }).mkString(",\n  ")
    val keep = (topNs.map { case (n, pct) =>
        s"top${n}_chars * 100 <= word_chars * $pct"
      } ++ dupNs.map { case (n, pct) =>
        s"dup${n}_chars * 100 <= word_chars * $pct"
      }).mkString(" AND ")
    s"""WITH t AS (
       |  SELECT doc_id, $Words AS ws FROM documents),
       |hwl AS (
       |  SELECT doc_id, list_transform(ws, w -> ${H("w")}) AS hw,
       |    list_transform(ws, w -> CAST(len(w) AS BIGINT)) AS ls,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
       |      AS BIGINT) AS word_chars
       |  FROM t),
       |g AS (
       |  $grams),
       |topv AS (
       |  SELECT doc_id, n, max(cnt * cl) AS v FROM (
       |    SELECT doc_id, n, g, count(*) AS cnt, max(c) AS cl
       |    FROM g WHERE n <= 4 GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2),
       |wlens AS (
       |  SELECT doc_id, i AS wp, CAST(len(ws[i]) AS BIGINT) AS wl
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
       |        FROM t)),
       |duppos AS (
       |  SELECT DISTINCT doc_id, n, wp FROM (
       |    SELECT g.doc_id, g.n, g.pos + unnest(range(0, g.n)) AS wp
       |    FROM g
       |    JOIN (SELECT doc_id, n, g FROM g WHERE n >= 5
       |          GROUP BY 1, 2, 3 HAVING count(*) >= 2) d
       |      ON d.doc_id = g.doc_id AND d.n = g.n AND d.g = g.g
       |    WHERE g.n >= 5)),
       |dupv AS (
       |  SELECT p.doc_id, p.n, sum(l.wl) AS v
       |  FROM duppos p JOIN wlens l ON l.doc_id = p.doc_id AND l.wp = p.wp
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id,
       |    $aggCols
       |  FROM (SELECT doc_id, 't' AS kind, n, v FROM topv
       |        UNION ALL SELECT doc_id, 'd', n, v FROM dupv)
       |  GROUP BY 1),
       |m AS (
       |  SELECT h.doc_id, h.n_words, h.word_chars,
       |    ${(topNs.map(t => s"CAST(coalesce(a.top${t._1}_chars, 0) " +
              s"AS BIGINT) AS top${t._1}_chars") ++
            dupNs.map(t => s"CAST(coalesce(a.dup${t._1}_chars, 0) " +
              s"AS BIGINT) AS dup${t._1}_chars"))
            .mkString(",\n    ")}
       |  FROM hwl h LEFT JOIN agg a ON a.doc_id = h.doc_id)
       |SELECT doc_id, n_words, word_chars,
       |  ${(topNs.map(t => s"top${t._1}_chars") ++
            dupNs.map(t => s"dup${t._1}_chars")).mkString(", ")},
       |  $okCols,
       |  ($keep) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** C4 cleaning-rules oracle — same synthesized lines, same kept-line
    * predicate, sentence marks counted by replace-and-measure. */
  private def c4Oracle: String = {
    val kills = (TextOps.C4PolicyPhrases :+ "javascript")
      .map(p => s"NOT contains(lower(l), '$p')").mkString(" AND ")
    s"""WITH synth AS (
       |  SELECT doc_id, concat_ws(chr(10), text || '.',
       |    'too short.',
       |    'this line has no terminal punctuation at all',
       |    CASE WHEN doc_id % 5 = 0 THEN 'we use javascript on this page.'
       |         ELSE 'a perfectly fine sentence with words.' END,
       |    CASE WHEN doc_id % 7 = 0
       |         THEN 'please read our Privacy Policy today.'
       |         ELSE 'another good sentence ends right here!' END,
       |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.'
       |         ELSE 'closing remarks conclude the page here?' END,
       |    CASE WHEN doc_id % 13 = 0
       |         THEN 'code snippet { embedded in page.'
       |         ELSE 'final line of honest prose today.' END) AS text
       |  FROM documents),
       |ls AS (
       |  SELECT doc_id, text,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |      l -> trim(l)), l -> l <> '') AS ls
       |  FROM synth),
       |kept AS (
       |  SELECT doc_id, text, ls,
       |    array_to_string(list_filter(ls, l ->
       |      len(string_split_regex(l, '\\s+')) >= 5
       |      AND (ends_with(l, '.') OR ends_with(l, '!')
       |           OR ends_with(l, '?') OR ends_with(l, '"'))
       |      AND $kills), chr(10)) AS kt,
       |    CAST(len(list_filter(ls, l ->
       |      len(string_split_regex(l, '\\s+')) >= 5
       |      AND (ends_with(l, '.') OR ends_with(l, '!')
       |           OR ends_with(l, '?') OR ends_with(l, '"'))
       |      AND $kills)) AS BIGINT) AS n_kept
       |  FROM ls),
       |m AS (
       |  SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, n_kept,
       |    CAST(len(kt) - len(replace(replace(replace(kt, '.', ''),
       |      '!', ''), '?', '')) AS BIGINT) AS n_sentences,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
       |    contains(text, '{') AS has_curly_brace, kt
       |  FROM kept)
       |SELECT doc_id, n_lines, n_kept AS n_kept_lines, n_sentences,
       |  has_lorem_ipsum, has_curly_brace, kt AS kept_text,
       |  (NOT has_lorem_ipsum AND NOT has_curly_brace
       |    AND n_sentences >= 3) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Gopher line-rules oracle — same synthesized line structure, same
    * trimmed-nonempty line set, duplicate counting via sorted adjacency
    * (order-independent: equal values are adjacent under any sort), and
    * the exact integer cross-multiplied bounds. */
  private def gopherLinesOracle: String = {
    val bullets = TextOps.GopherBulletPrefixes
      .map(p => s"starts_with(l, '$p')").mkString(" OR ")
    s"""WITH n AS (SELECT count(*) AS c FROM documents),
       |synth AS (
       |  SELECT d1.doc_id, concat_ws(chr(10), d1.text,
       |    CASE WHEN d1.doc_id % 3 = 0 THEN '- bullet item'
       |         ELSE 'plain line' END,
       |    d2.text,
       |    CASE WHEN d1.doc_id % 4 = 0 THEN 'to be continued...'
       |         ELSE d1.text END, '') AS text
       |  FROM documents d1, documents d2, n
       |  WHERE d2.doc_id = (d1.doc_id + 1) % n.c),
       |ls AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |      l -> trim(l)), l -> l <> '') AS ls
       |  FROM synth),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(coalesce(list_sum(list_transform(range(2, len(ls) + 1),
       |      i -> CASE WHEN list_sort(ls)[i] = list_sort(ls)[i-1]
       |                THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_dup_lines,
       |    CAST(coalesce(list_sum(list_transform(range(2, len(ls) + 1),
       |      i -> CASE WHEN list_sort(ls)[i] = list_sort(ls)[i-1]
       |                THEN len(list_sort(ls)[i]) ELSE 0 END)), 0)
       |      AS BIGINT) AS dup_line_chars,
       |    CAST(coalesce(list_sum(list_transform(ls, l -> len(l))), 0)
       |      AS BIGINT) AS line_chars,
       |    CAST(len(list_filter(ls, l -> $bullets)) AS BIGINT)
       |      AS n_bullet_lines,
       |    CAST(len(list_filter(ls, l -> ends_with(l, '...')
       |      OR ends_with(l, '…'))) AS BIGINT) AS n_ellipsis_lines
       |  FROM ls)
       |SELECT doc_id, n_lines, n_dup_lines, dup_line_chars, line_chars,
       |  n_bullet_lines, n_ellipsis_lines,
       |  (n_dup_lines * 10 <= n_lines * 3) AS ok_dup_lines,
       |  (dup_line_chars * 5 <= line_chars) AS ok_dup_chars,
       |  (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullet_lines,
       |  (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis_lines,
       |  ((n_dup_lines * 10 <= n_lines * 3)
       |    AND (dup_line_chars * 5 <= line_chars)
       |    AND (n_bullet_lines * 10 <= n_lines * 9)
       |    AND (n_ellipsis_lines * 10 <= n_lines * 3)) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Source-overlap oracle — mirrors [[TextOps.sourceOverlapMatrix]]:
    * distinct (source, 3-gram-hash) rows, self-join on the gram, exact
    * integer counts, IEEE ratios of identical operands. */
  private def sourceOverlapOracle: String =
    s"""WITH hw AS (
       |  SELECT source, list_transform($Words, w -> ${H("w")}) AS hw
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT source, (${ngramHashSql(3, "i")}) AS g,
       |    (${ngramHashSql(3, "i", TextOps.ShingleMult2)}) AS g2
       |  FROM (SELECT source, hw, unnest(range(1, len(hw) - 1)) AS i
       |        FROM hw WHERE len(hw) >= 3)),
       |counts AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
       |common AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    count(*) AS n_common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.g2 = b.g2
       |    AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT c.source_a, c.source_b,
       |  ca.n AS grams_a, cb.n AS grams_b, c.n_common,
       |  CAST(c.n_common AS DOUBLE) / (ca.n + cb.n - c.n_common) AS jaccard,
       |  CAST(c.n_common AS DOUBLE) / least(ca.n, cb.n) AS containment
       |FROM common c
       |JOIN counts ca ON ca.source = c.source_a
       |JOIN counts cb ON cb.source = c.source_b
       |ORDER BY c.source_a, c.source_b""".stripMargin

  /** Novelty oracle — the gram/winner chain of [[substringDedupOracle]]
    * reduced to a per-document first-occurrence share. */
  private def noveltyOracle: String = {
    val k = TextOps.SubstringGramK
    s"""WITH toks AS (
       |  SELECT doc_id, $Words AS ws FROM documents),
       |hw AS (
       |  SELECT doc_id, list_transform(ws, w -> ${H("w")}) AS hw FROM toks),
       |grams AS (
       |  SELECT doc_id, (${ngramHashSql(k, "pos")}) AS g,
       |    (${ngramHashSql(k, "pos", TextOps.ShingleMult2)}) AS g2,
       |    doc_id * ${TextOps.OrdScale} + pos AS ord
       |  FROM (SELECT doc_id, hw, unnest(range(1, len(hw) - ${k - 2})) AS pos
       |        FROM hw WHERE len(hw) >= $k)),
       |winners AS (
       |  SELECT g, g2, min(ord) AS w FROM grams GROUP BY g, g2),
       |perdoc AS (
       |  SELECT gr.doc_id, count(*) AS n,
       |    CAST(sum(CASE WHEN gr.ord = wi.w THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nov
       |  FROM grams gr JOIN winners wi ON gr.g = wi.g AND gr.g2 = wi.g2
       |  GROUP BY 1)
       |SELECT t.doc_id, coalesce(p.n, 0) AS n_grams,
       |  coalesce(p.nov, 0) AS n_novel,
       |  CAST(p.nov AS DOUBLE) / p.n AS novelty
       |FROM toks t LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** DSIR oracle — mirrors [[TextOps.dsirWeights]]: unigram+bigram
    * feature buckets, add-1 smoothed bucket log-ratios quantized to
    * integer micro-nats per BUCKET (the only doubles; ≤ once per bucket),
    * then exact integer per-doc sums. */
  private def dsirOracle: String =
    s"""WITH $dsirScoredCtes
       |SELECT doc_id, n_feats, logw_micro,
       |  CAST(row_number() OVER (ORDER BY logw_micro DESC, doc_id) AS BIGINT)
       |    AS rank
       |FROM scored ORDER BY doc_id""".stripMargin

  /** Gumbel top-k resampling oracle — mirrors [[TextOps.dsirSample]]:
    * uniform from the doc-id hash, perturbed key quantized to micro-nats
    * BEFORE ranking, ties on doc_id. */
  private def dsirSampleOracle(k: Int): String =
    s"""WITH $dsirScoredCtes,
       |keyed AS (
       |  SELECT doc_id, logw_micro,
       |    CAST(round((CAST(logw_micro AS DOUBLE) / 1e6 / 1.0
       |      + -ln(-ln(((${H("CAST(doc_id AS VARCHAR)")} % 1000000) + 0.5)
       |                / 1e6))) * 1e6) AS BIGINT) AS key_micro
       |  FROM scored)
       |SELECT * FROM (
       |  SELECT doc_id, logw_micro, key_micro FROM keyed
       |  ORDER BY key_micro DESC, doc_id LIMIT $k)
       |ORDER BY doc_id""".stripMargin

  /** Shared DSIR CTE chain ending in `scored(doc_id, n_feats,
    * logw_micro)` — the ONE place the hashed-n-gram LLR model is stated
    * in SQL (ranked, threshold, and resampling oracles all read it). */
  private def dsirScoredCtes: String = {
    val b = TextOps.DsirBuckets
    s"""hw AS (
       |  SELECT doc_id, lang, list_transform($Words, w -> ${H("w")}) AS hw
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, h % $b AS b FROM (
       |    SELECT doc_id, lang, unnest(hw) AS h FROM hw
       |    UNION ALL
       |    SELECT doc_id, lang,
       |      unnest(CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[])
       |        ELSE list_transform(range(1, len(hw)),
       |          i -> (hw[i] * 1000003 + hw[i+1]) % ${TextOps.ShingleMod})
       |      END) AS h
       |    FROM hw)),
       |tgt AS (SELECT b, count(*) AS t FROM feats WHERE lang = 'en' GROUP BY b),
       |docb AS (SELECT doc_id, b, count(*) AS c FROM feats
       |         WHERE lang <> 'en' GROUP BY doc_id, b),
       |rawb AS (SELECT b, CAST(sum(c) AS BIGINT) AS r FROM docb GROUP BY b),
       |tot AS (SELECT (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM tgt) AS tt,
       |               (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) FROM rawb) AS rr),
       |wt AS (
       |  SELECT rawb.b,
       |    CAST(round(1e6 * ln( ((coalesce(tgt.t, 0) + 1.0) / (tot.tt + $b))
       |                       / ((rawb.r + 1.0) / (tot.rr + $b)) )) AS BIGINT)
       |      AS lw
       |  FROM rawb LEFT JOIN tgt ON rawb.b = tgt.b CROSS JOIN tot),
       |scored AS (
       |  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_feats,
       |         CAST(sum(d.c * w.lw) AS BIGINT) AS logw_micro
       |  FROM docb d JOIN wt w ON d.b = w.b GROUP BY d.doc_id)""".stripMargin
  }

  /** Shared perplexity CTE chain ending in `sc(doc_id, n, s)` — the ONE
    * place the add-one bigram LM is stated in SQL (score and prune
    * oracles both read it): counts from the 'en' reference slice,
    * per-scored-bigram log quantized to integer micro-nats (the dsir
    * device), exact integer per-doc sums. */
  private def perplexityScoredCtes: String =
    s"""hw AS (
       |  SELECT doc_id, lang, list_transform($Words, w -> ${H("w")}) AS hw
       |  FROM documents),
       |pe AS (
       |  SELECT doc_id, lang, p[1] AS h1, p[2] AS h2 FROM (
       |    SELECT doc_id, lang,
       |      unnest(CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[][])
       |        ELSE list_transform(range(1, len(hw)), i -> [hw[i], hw[i+1]])
       |      END) AS p
       |    FROM hw)),
       |cb AS (SELECT h1, h2, count(*) AS cb FROM pe WHERE lang = 'en'
       |       GROUP BY h1, h2),
       |ctx AS (SELECT h1, count(*) AS cu FROM pe WHERE lang = 'en'
       |        GROUP BY h1),
       |v AS (SELECT count(DISTINCT h) AS v FROM
       |        (SELECT unnest(hw) AS h FROM hw WHERE lang = 'en')),
       |docp AS (SELECT doc_id, h1, h2, count(*) AS c FROM pe
       |         WHERE lang <> 'en' GROUP BY doc_id, h1, h2),
       |lp AS (
       |  SELECT d.doc_id, d.c,
       |    CAST(round(1e6 * ln((coalesce(cb.cb, 0) + 1.0)
       |                      / (coalesce(ctx.cu, 0) + v.v))) AS BIGINT) AS lp
       |  FROM docp d LEFT JOIN cb ON d.h1 = cb.h1 AND d.h2 = cb.h2
       |    LEFT JOIN ctx ON d.h1 = ctx.h1 CROSS JOIN v),
       |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |              CAST(sum(c * lp) AS BIGINT) AS s
       |       FROM lp GROUP BY doc_id)""".stripMargin

  /** Perplexity oracle — mirrors [[TextOps.lmPerplexityScores]]: every
    * raw document returned, zero-pair docs coalesced to (0, 0). */
  private def perplexityOracle: String =
    s"""WITH $perplexityScoredCtes
       |SELECT d.doc_id, CAST(coalesce(sc.n, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(sc.s, 0) AS BIGINT) AS logp_micro
       |FROM (SELECT doc_id FROM documents WHERE lang <> 'en') d
       |LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** CCNet-selection oracle — mirrors [[TextOps.perplexityPrune]]: mean
    * micro-nat fit per bigram, keep the top half of each source by fit
    * (row_number + ceil fraction, ties on doc_id). */
  private def perplexityPruneOracle: String =
    s"""WITH $perplexityScoredCtes,
       |fit AS (
       |  SELECT sc.doc_id, d.source, sc.n AS n_pairs,
       |    CAST(round(CAST(sc.s AS DOUBLE) / sc.n) AS BIGINT) AS fit_micro
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
       |r AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY source ORDER BY fit_micro DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM fit)
       |SELECT doc_id, source, n_pairs, fit_micro FROM r
       |WHERE rn <= CAST(ceil(cnt * 0.5) AS BIGINT) ORDER BY doc_id""".stripMargin

  /** Classifier-inference oracle — mirrors [[TextOps.classifierScores]]
    * with the query's deterministic hash-derived weight table: exact
    * integer feature count and weight sum, one double sigmoid chain per
    * document quantized to micro-units (the dsirSample device). */
  private def classifierOracle: String = {
    val b = TextOps.DsirBuckets
    s"""WITH hw AS (
       |  SELECT doc_id, list_transform($Words, w -> ${H("w")}) AS hw
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, h % $b AS b FROM (
       |    SELECT doc_id, unnest(hw) AS h FROM hw
       |    UNION ALL
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(hw) < 2 THEN CAST([] AS BIGINT[])
       |        ELSE list_transform(range(1, len(hw)),
       |          i -> (hw[i] * 1000003 + hw[i+1]) % ${TextOps.ShingleMod})
       |      END) AS h
       |    FROM hw)),
       |wt AS (SELECT b, ${H("CAST(b AS VARCHAR)")} % 2000001 - 1000000 AS w
       |       FROM range(0, $b) t(b)),
       |sc AS (
       |  SELECT f.doc_id, count(*) AS n,
       |         CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS s
       |  FROM feats f LEFT JOIN wt ON f.b = wt.b GROUP BY f.doc_id),
       |pr AS (
       |  SELECT doc_id, n,
       |    CAST(round(1e6 / (1 + exp(-(0.0 + (CAST(s AS DOUBLE) / 1e6) / n))))
       |      AS BIGINT) AS p
       |  FROM sc)
       |SELECT d.doc_id, CAST(coalesce(pr.n, 0) AS BIGINT) AS n_feats,
       |  CAST(coalesce(pr.p, 500000) AS BIGINT) AS prob_micro
       |FROM documents d LEFT JOIN pr USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mixture query constants: src0 deliberately over-weighted past its
    * availability so the rate cap (`least(1, …)`) is exercised; 16 of the
    * 20 sources carry no weight (rate 0). */
  private def DsirSampleK = 100

  private[queries] def MixtureWeights: Seq[(String, Long)] =
    Seq("src0" -> 8L, "src1" -> 4L, "src2" -> 2L, "src3" -> 1L)
  private[queries] def MixtureBudget: Long = 3000L

  private def mixtureOracle: String = {
    val values = MixtureWeights
      .map { case (s, w) => s"('$s', CAST($w AS BIGINT))" }.mkString(", ")
    val sumW = MixtureWeights.map(_._2).sum
    s"""WITH toks AS (
       |  SELECT source, doc_id, CAST(len($Words) AS BIGINT) AS toks
       |  FROM documents),
       |wt(source, w) AS (VALUES $values),
       |avail AS (
       |  SELECT source, doc_id, toks,
       |    count(*) OVER (PARTITION BY source) AS avail_docs,
       |    CAST(sum(toks) OVER (PARTITION BY source) AS BIGINT) AS avail_tokens
       |  FROM toks),
       |rated AS (
       |  SELECT a.*,
       |    coalesce(w.w, 0) * $MixtureBudget / $sumW AS target_tokens
       |  FROM avail a LEFT JOIN wt w ON a.source = w.source),
       |keyed AS (
       |  SELECT *, least(1.0, target_tokens / avail_tokens) AS rate
       |  FROM rated),
       |flagged AS (
       |  SELECT *, (${H("CAST(doc_id AS VARCHAR)")} % 1000000)
       |    < floor(rate * 1000000.0) AS keep
       |  FROM keyed)
       |SELECT source,
       |  any_value(avail_docs) AS avail_docs,
       |  any_value(avail_tokens) AS avail_tokens,
       |  any_value(target_tokens) AS target_tokens,
       |  any_value(rate) AS rate,
       |  CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS sampled_docs,
       |  CAST(coalesce(sum(CASE WHEN keep THEN toks END), 0) AS BIGINT)
       |    AS sampled_tokens
       |FROM flagged GROUP BY source ORDER BY source""".stripMargin
  }
}
