package graft.ops

import graft.dedup.{DedupClusters, ExactJaccard, MinHashLSH, SimHash}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Deduplication pack over `documents`: exact hash-groupBy, exact
  * n-gram Jaccard (the ground truth), MinHash+LSH and SimHash (the
  * scale paths). The exact variants carry DuckDB oracles; the LSH
  * variants are algorithm-specific (xxhash64 permutations are not
  * expressible in ANSI SQL) → rows-only checks, with scalatest suites
  * asserting they recover the exact-Jaccard truth on the test corpus.
  */
object DedupQueries {
  import SessionScopedCache.scratchRoot
  import Tables.load

  val all: Seq[Q] = Seq(

    // URL-CANONICALIZATION DEDUP — the web-corpus pipeline step that
    // precedes content dedup: the same page arrives under many raw
    // URLs (scheme/host case, an explicit default port, tracking
    // params in varying order, fragments). Canonicalize — lowercase
    // through the path, strip ':443', drop the fragment, remove
    // utm_*/ref params, SORT the survivors — and group by the
    // canonical form. Every step is a codegen'd per-row expression
    // (split_part/filter/array_sort/array_join — no UDF) feeding one
    // hash aggregate on the canonical key: linear scan + single
    // shuffle at any corpus size. URLs are synthesized
    // deterministically from doc_id/source (the corpus carries no URL
    // column); the messiness classes mirror real crawl variation.
    Q("dedup_url_canonical", (spark, dir) => {
      load(spark, dir, "documents").createOrReplaceTempView("url_docs")
      spark.sql("""
        WITH raw AS (
          SELECT doc_id,
                 concat(
                   CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
                   CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                   '.example.com',
                   CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
                   '/p/', CAST(doc_id % 97 AS STRING),
                   CASE WHEN doc_id % 7 = 0
                        THEN concat('?utm_source=feed&id=',
                                    CAST(doc_id % 13 AS STRING), '&v=2')
                        ELSE concat('?v=2&id=', CAST(doc_id % 13 AS STRING),
                                    '&ref=tw') END,
                   CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
          FROM url_docs),
        parts AS (
          SELECT doc_id,
                 split_part(split_part(url, '#', 1), '?', 1) AS pre,
                 split_part(split_part(url, '#', 1), '?', 2) AS q
          FROM raw)
        SELECT concat(replace(lower(pre), ':443', ''), '?',
                      array_join(array_sort(filter(split(q, '&'),
                        p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))),
                        '&')) AS canonical_url,
               count(*) AS n_docs,
               min(doc_id) AS keeper_id
        FROM parts
        GROUP BY 1""")
    }, oracle = Some("""
      WITH raw AS (
        SELECT doc_id,
               concat(
                 CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
                 CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
                 '.example.com',
                 CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
                 '/p/', CAST(doc_id % 97 AS VARCHAR),
                 CASE WHEN doc_id % 7 = 0
                      THEN concat('?utm_source=feed&id=',
                                  CAST(doc_id % 13 AS VARCHAR), '&v=2')
                      ELSE concat('?v=2&id=', CAST(doc_id % 13 AS VARCHAR),
                                  '&ref=tw') END,
                 CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      parts AS (
        SELECT doc_id,
               split_part(split_part(url, '#', 1), '?', 1) AS pre,
               split_part(split_part(url, '#', 1), '?', 2) AS q
        FROM raw)
      SELECT concat(replace(lower(pre), ':443', ''), '?',
                    array_to_string(list_sort(list_filter(string_split(q, '&'),
                      p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))),
                      '&')) AS canonical_url,
             count(*) AS n_docs,
             min(doc_id) AS keeper_id
      FROM parts
      GROUP BY 1""")),

    // STREAMING CORPUS INGEST WITH DEDUP — the production shape of
    // continuous corpus building at 100 TB: the accepted corpus, its
    // INVERTED INDEX (the (id, lang, shingle) postings), and the
    // duplicate quarantine all live as transaction-log tables; new
    // documents stream in per commit (graft-txlog source, one version
    // per trigger) and each microbatch (a) probes the PERSISTENT index
    // with the batch's shingles — an equi-join on (lang, shingle)
    // whose cost tracks the batch's co-occurrence with the index,
    // never the corpus — (b) routes any doc with Jaccard ≥ 0.5
    // against the accepted corpus to quarantine with its best match
    // (max jaccard, ties to the lowest id), and (c) appends the
    // surviving docs AND their postings, all three commits #txn-marked
    // for exactly-once under redelivery. Because the index grows with
    // each accepted batch, batch 2 dedups against base ∪ batch 1's
    // survivors — the sequential-fold semantics the oracle replays as
    // two unrolled stages. Dedup granularity is per batch (a batch's
    // own internal near-pairs ride the NEXT batch's probe), the
    // documented trade of per-commit ingest.
    Q("dedup_stream_ingest", (spark, dir) => {
      val tag = dir.hashCode.abs
      val stagingR = s"$scratchRoot/dedup_sing_stage_$tag"
      val corpusR = s"$scratchRoot/dedup_sing_corpus_$tag"
      val idxR = s"$scratchRoot/dedup_sing_idx_$tag"
      val quarR = s"$scratchRoot/dedup_sing_quar_$tag"
      val ckpt = s"$scratchRoot/dedup_sing_ckpt_$tag"
      Seq(stagingR, corpusR, idxR, quarR, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      val docs = load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      def shingleEx(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id").as("id"), col("lang").as("blk"),
          explode(TextFunctions.shinglesFromTokens(
            TextFunctions.tokens(col("text")), 3)).as("s"))
      val corpus = graft.pipeline.TxLog(spark, corpusR)
      corpus.overwrite(base)
      val idx = graft.pipeline.TxLog(spark, idxR)
      idx.overwrite(shingleEx(base))
      val quar = graft.pipeline.TxLog(spark, quarR)
      quar.overwrite(docs.filter(lit(false)).select(col("doc_id"),
        col("doc_id").as("match_id"), lit(0.0).as("jaccard")))
      val stage = graft.pipeline.TxLog(spark, stagingR)
      stage.overwrite(docs.filter(col("doc_id") % 10 === 0)) // v0: batch 1
      stage.append(docs.filter(col("doc_id") % 10 === 5))    // v1: batch 2
      graft.streaming.StreamRun.toEnd(spark, spark.readStream
        .format("graft-txlog").option("path", stagingR)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val b = batch.select(col("doc_id"), col("text"), col("lang"))
            .localCheckpoint(true)
          val bex = shingleEx(b).localCheckpoint(true)
          // probe the index MINUS this batch's own ids: on a crash
          // replay after idx.append committed (its #txn mark makes the
          // re-append a no-op), the index already holds the batch's
          // survivors — without the exclusion every survivor would
          // self-match at jaccard 1.0 and re-quarantine. The anti-join
          // is a no-op on the first delivery (ids not yet indexed), so
          // replay recomputes byte-identical routing — the exactly-once
          // contract extends to the RECOMPUTATION, not just the commits
          val probe = idx.snapshot()
            .join(b.select(col("doc_id").as("id")), Seq("id"), "left_anti")
          val best = ExactJaccard.pairsAgainst(bex, probe, 0.5)
            .groupBy(col("id_new"))
            .agg(min_by(struct(col("id_base"), col("jaccard")),
              struct(-col("jaccard"), col("id_base"))).as("m"))
            .select(col("id_new").as("doc_id"),
              col("m.id_base").as("match_id"), col("m.jaccard").as("jaccard"))
            .localCheckpoint(true)
          val clean = b.join(best.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .localCheckpoint(true)
          corpus.append(clean, txn = Some(("dedup_sing_corpus", id)))
          idx.append(shingleEx(clean), txn = Some(("dedup_sing_idx", id)))
          quar.append(best, txn = Some(("dedup_sing_quar", id)))
          ()
        })
      corpus.snapshot().select(col("doc_id"), lit("kept").as("status"),
          lit(null).cast("long").as("match_id"),
          lit(null).cast("double").as("jaccard"))
        .unionByName(quar.snapshot().select(col("doc_id"),
          lit("dup").as("status"), col("match_id"), col("jaccard")))
    }, oracle = Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM d),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d),
      p1 AS (
        SELECT n.doc_id AS id_new, b.doc_id AS id_base, count(*) AS i
        FROM ex n JOIN ex b ON n.lang = b.lang AND n.s = b.s
        WHERE n.doc_id % 10 = 0 AND b.doc_id % 5 <> 0
        GROUP BY 1, 2),
      j1 AS (
        SELECT id_new, id_base, CAST(i AS DOUBLE) / (sn.n + sb.n - i) AS jac
        FROM p1 JOIN sizes sn ON sn.doc_id = id_new
                JOIN sizes sb ON sb.doc_id = id_base
        WHERE CAST(i AS DOUBLE) / (sn.n + sb.n - i) >= 0.5),
      d1 AS (
        SELECT id_new, id_base, jac FROM (
          SELECT *, row_number() OVER (PARTITION BY id_new
              ORDER BY jac DESC, id_base) AS rk FROM j1) WHERE rk = 1),
      k1 AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT id_new FROM d1)),
      p2 AS (
        SELECT n.doc_id AS id_new, b.doc_id AS id_base, count(*) AS i
        FROM ex n JOIN ex b ON n.lang = b.lang AND n.s = b.s
        WHERE n.doc_id % 10 = 5
          AND (b.doc_id % 5 <> 0 OR b.doc_id IN (SELECT doc_id FROM k1))
        GROUP BY 1, 2),
      j2 AS (
        SELECT id_new, id_base, CAST(i AS DOUBLE) / (sn.n + sb.n - i) AS jac
        FROM p2 JOIN sizes sn ON sn.doc_id = id_new
                JOIN sizes sb ON sb.doc_id = id_base
        WHERE CAST(i AS DOUBLE) / (sn.n + sb.n - i) >= 0.5),
      d2 AS (
        SELECT id_new, id_base, jac FROM (
          SELECT *, row_number() OVER (PARTITION BY id_new
              ORDER BY jac DESC, id_base) AS rk FROM j2) WHERE rk = 1),
      k2 AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 10 = 5 AND doc_id NOT IN (SELECT id_new FROM d2))
      SELECT doc_id, 'kept' AS status, CAST(NULL AS BIGINT) AS match_id,
             CAST(NULL AS DOUBLE) AS jaccard
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
            UNION ALL SELECT doc_id FROM k1
            UNION ALL SELECT doc_id FROM k2)
      UNION ALL
      SELECT id_new AS doc_id, 'dup' AS status, id_base AS match_id, jac AS jaccard
      FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)""")),

    // Per-source duplication-rate report — the accounting table a
    // dedup run publishes: docs, distinct contents, and the duplicate
    // share in exact integer ppm. One hash-aggregate pass (count +
    // count-distinct over the content hash — partial aggregation on
    // both); no joins, no windows.
    Q("dedup_rate_by_source", (spark, dir) =>
      graft.ops.Tables.load(spark, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(graft.functions.TextFunctions.exactHash(col("text"))).as("n_distinct"))
        .withColumn("dup_ppm", expr("(n_docs - n_distinct) * 1000000L div n_docs")),
      oracle = Some("""
      SELECT source, count(*) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
             (count(*) - count(DISTINCT md5(text))) * 1000000 // count(*) AS dup_ppm
      FROM documents GROUP BY source""")),

    // Exact dedup: one survivor (min doc_id) per identical text.
    Q("dedup_exact", (spark, dir) =>
      load(spark, dir, "documents")
        .groupBy(TextFunctions.exactHash(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      oracle = Some("""
      SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text)""")),

    // Exact 3-gram-shingle Jaccard over lang-blocked pairs — ground
    // truth for fuzzy dedup, computed with the inverted-index join
    // (pair space generated only by co-occurring shingles; see
    // [[graft.dedup.ExactJaccard]]). The oracle mirrors the same
    // inverted-index formulation.
    Q("dedup_ngram_jaccard", (spark, dir) =>
      ExactJaccard.pairs(load(spark, dir, "documents"), "doc_id", "text", "lang",
        shingleN = 3, threshold = 0.5),
      oracle = Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM d),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM ex a JOIN ex b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d)
      SELECT id_a, id_b,
             CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"""), bench = true),

    // Duplicate clusters: connected components over the exact-Jaccard
    // pair graph, canonical survivor = min doc_id. Oracle recomputes the
    // components with a recursive transitive-closure CTE.
    Q("dedup_clusters", (spark, dir) => {
      val pairs = ExactJaccard.pairs(load(spark, dir, "documents"),
        "doc_id", "text", "lang", shingleN = 3, threshold = 0.5)
      DedupClusters.components(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("cluster_id"),
          (col("node") === col("cluster_id")).as("is_survivor"))
    }, oracle = Some("""
      WITH RECURSIVE d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM d),
      cnt AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM ex a JOIN ex b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d),
      pairs AS (
        SELECT id_a, id_b FROM cnt
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b)
      SELECT node AS doc_id, min(r) AS cluster_id,
             node = min(r) AS is_survivor
      FROM reach GROUP BY node""")),

    // MinHash + banded LSH — the linear-ish scale path. Candidates are
    // exact-verified, so the output is SOUND by construction; the
    // oracle additionally pins RECALL: with 16 bands × 4 rows at
    // threshold 0.5 the LSH recovers every exact pair on this corpus
    // (asserted in DedupSpec), so the result must EQUAL the full
    // unblocked inverted-index pair set — a complete equality oracle
    // for a sketch-based operator.
    Q("dedup_minhash_lsh", (spark, dir) => {
      val docs = load(spark, dir, "documents")
      // share the checkpointed inverted index with the exact-Jaccard
      // family (same corpus/config key → one shingling per session);
      // the blk tag rides along unused — LSH banding is unblocked
      MinHashLSH.duplicatePairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5,
        sharedPostings =
          Some(ExactJaccard.postings(docs, "doc_id", "text", "lang", shingleN = 3)))
        .orderBy(col("id_a"), col("id_b"))
    },
      oracle = Some("""
      WITH d AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, unnest(sh) AS s FROM d),
      cnt AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d)
      SELECT id_a, id_b,
             CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM cnt JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5""")),

    // Incremental dedup: a NEW batch (doc_id % 5 = 0) is paired against
    // the existing BASE corpus only — base×base is never re-paired
    // (it was deduped at its own ingest time), so per-batch cost tracks
    // the batch, not corpus history. The production shape for
    // continuously-ingested training data.
    Q("dedup_incremental", (spark, dir) => {
      val docs = load(spark, dir, "documents")
      // one shared posting build (cached across the dedup family);
      // batch/base are filters over it
      val ex = ExactJaccard.postings(docs, "doc_id", "text", "lang", shingleN = 3)
      ExactJaccard.pairsAgainst(
        ex.filter(col("id") % 5 === 0),
        ex.filter(col("id") % 5 =!= 0),
        threshold = 0.5)
    }, oracle = Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      exn AS (SELECT doc_id, lang, unnest(sh) AS s FROM d WHERE doc_id % 5 = 0),
      exb AS (SELECT doc_id, lang, unnest(sh) AS s FROM d WHERE doc_id % 5 <> 0),
      cnt AS (
        SELECT n.doc_id AS id_new, b.doc_id AS id_base, count(*) AS i
        FROM exn n JOIN exb b ON n.lang = b.lang AND n.s = b.s
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d)
      SELECT id_new, id_base,
             CAST(i AS DOUBLE) / (sn.n + sb.n - i) AS jaccard
      FROM cnt JOIN sizes sn ON sn.doc_id = id_new
               JOIN sizes sb ON sb.doc_id = id_base
      WHERE CAST(i AS DOUBLE) / (sn.n + sb.n - i) >= 0.5""")),

    // Asymmetric CONTAINMENT |A∩B| / |A| — catches a short document
    // quoted inside a long one, which symmetric Jaccard dilutes below
    // any usable threshold. Same inverted-index join (and the same
    // cached postings) as the Jaccard family; only the denominator
    // changes. Ordered pairs: containment is directional.
    Q("dedup_containment", (spark, dir) => {
      val ex = ExactJaccard.postings(load(spark, dir, "documents"),
        "doc_id", "text", "lang", shingleN = 3)
      val inter = ex.alias("a")
        .join(ex.alias("b"),
          col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
            col("a.id") =!= col("b.id"))
        .groupBy(col("a.id").as("id_small"), col("b.id").as("id_big"))
        .agg(count(lit(1)).as("i"))
      val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
      inter.join(sizes.select(col("id").as("id_small"), col("n").as("na")), "id_small")
        .withColumn("containment", col("i").cast("double") / col("na"))
        .filter(col("containment") >= 0.8)
        .select(col("id_small"), col("id_big"), col("containment"))
    }, oracle = Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM d),
      inter AS (
        SELECT a.doc_id AS id_small, b.doc_id AS id_big, count(*) AS i
        FROM ex a JOIN ex b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d)
      SELECT id_small, id_big, CAST(i AS DOUBLE) / sa.n AS containment
      FROM inter JOIN sizes sa ON sa.doc_id = id_small
      WHERE CAST(i AS DOUBLE) / sa.n >= 0.8""")),

    // SimHash with pigeonhole blocking. The token hash is
    // SQL-expressible by design ([[SimHash.tokenHash60]]), so the
    // oracle recomputes the ENTIRE operator — signatures, blocking,
    // Hamming distances — and hash-matches the output (vs the
    // rows-only check an opaque xxhash would force).
    Q("dedup_simhash", (spark, dir) =>
      SimHash.duplicatePairs(load(spark, dir, "documents"), "doc_id", "text", maxDist = 3)
        .orderBy(col("id_a"), col("id_b")),
      oracle = Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      rolls AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) AS r1,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
            (acc, c) -> (acc * 131 + c) % 998244353) AS r2
        FROM tok),
      hs AS (
        SELECT doc_id,
               ((r1 * 2654435761 + r2) % 1073741789) * 1073741824
             + ((r2 * 2654435761 + r1) % 1073741789) AS h
        FROM rolls),
      sig AS (
        SELECT doc_id, $simhashSigSql AS sig
        FROM hs GROUP BY doc_id),
      blocked AS (
        SELECT doc_id, sig, bl.b AS block, (sig // bl.pw) % 32768 AS blockval
        FROM sig, (VALUES (0, CAST(1 AS BIGINT)), (1, CAST(32768 AS BIGINT)),
                   (2, CAST(1073741824 AS BIGINT)),
                   (3, CAST(35184372088832 AS BIGINT))) AS bl(b, pw)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sig AS sig_a, b.sig AS sig_b
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.blockval = b.blockval
         AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3""")),

    // PARAGRAPH-level corpus dedup (MassiveText/RefinedWeb style):
    // boilerplate segments repeated across many documents are removed
    // from every document, and the cleaned text is reassembled in
    // order. Segments here are non-overlapping 8-token chunks (the
    // corpus has no newlines; with real paragraphs the split column is
    // the only change). Shape: chunking is PURE array arithmetic on
    // the row (no shuffle), the boilerplate set is one distinct-count
    // aggregation keyed by chunk (chunks in ≥ 3 distinct docs), the
    // removal is an equi-join against that set — which is the small
    // minority of chunks, broadcast-size in practice — and reassembly
    // is a sort_array over (pos, chunk) collected per doc: every stage
    // is keyed and parallel, nothing funnels through one partition.
    Q("dedup_paragraphs", (spark, dir) => {
      val C = 8
      val ex = load(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), ((size(col("toks")) - 1) / C).cast("int")),
          i => array_join(slice(col("toks"), i * C + 1, lit(C)), " "))))
        .withColumnRenamed("col", "chunk")
      val bp = ex.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3)
        .select(col("chunk"), lit(true).as("is_bp"))
      ex.join(bp, Seq("chunk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_removed"),
          array_join(transform(
            array_sort(collect_list(when(col("is_bp").isNull,
              struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")), " ").as("clean_text"))
    }, oracle = Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      ex AS (
        SELECT doc_id, u.pos,
               array_to_string(toks[u.pos*8+1 : u.pos*8+8], ' ') AS chunk
        FROM t, LATERAL (SELECT unnest(range(0, (len(toks) - 1) // 8 + 1)) AS pos) u),
      bp AS (
        SELECT chunk FROM ex GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= 3),
      fl AS (
        SELECT e.doc_id, e.pos, e.chunk, b.chunk IS NOT NULL AS is_bp
        FROM ex e LEFT JOIN bp b ON e.chunk = b.chunk)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             coalesce(array_to_string(
               list(chunk ORDER BY pos) FILTER (WHERE NOT is_bp), ' '), '')
               AS clean_text
      FROM fl GROUP BY doc_id""")),

    // CONTENT-DEFINED chunking dedup (the rsync/LBFS split): chunk
    // boundaries fall where a per-token polynomial hash ≡ 0 (mod 16) —
    // a property of the CONTENT, not the offset — so an insertion near
    // a doc's head shifts every fixed-width chunk (`dedup_paragraphs`
    // finds nothing) but leaves all later content-defined chunks
    // byte-identical, and the cross-doc chunk join still catches the
    // shared tail. Pipeline: one explode pass, the boundary flag's
    // running sum over a doc-keyed window (one shuffle on doc_id —
    // never global), chunk reassembly, and a chunk-hash join; expected
    // chunk length is the modulus (16 tokens). All integer arithmetic
    // — the same 31-poly/1e9+7 hash as `text_fingerprint`, replayed
    // by the oracle.
    Q("dedup_cdc_chunks", (spark, dir) => {
      val toks = load(spark, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("h", expr(
          "aggregate(split(tok, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val chunks = toks
        .withColumn("cid", sum(when(col("h") % 16 === 0, 1L).otherwise(0L)).over(w))
        .groupBy(col("doc_id"), col("cid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk"))
      val shared = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("chunk"), lit(true).as("is_shared"))
      chunks.join(shared, Seq("chunk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_shared"), 1L).otherwise(0L)).as("n_shared"))
    }, oracle = Some("""
      WITH toks AS (
        SELECT doc_id, u.pos, u.tok,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(u.tok, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             LATERAL (SELECT unnest(tk) AS tok,
                             generate_subscripts(tk, 1) - 1 AS pos) u),
      cid AS (
        SELECT doc_id, pos, tok,
               sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS cid
        FROM toks),
      chunks AS (
        SELECT doc_id, cid, array_to_string(list(tok ORDER BY pos), ' ') AS chunk
        FROM cid GROUP BY doc_id, cid),
      shared AS (
        SELECT chunk FROM chunks GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= 2)
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN s.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM chunks c LEFT JOIN shared s ON c.chunk = s.chunk
      GROUP BY c.doc_id""")),

    // MinHash ESTIMATOR-ACCURACY audit — the sketch-contract query for
    // the dedup stack: 16 md5-fold hash functions (h_i(s) = fold of
    // md5("i|" + shingle) — cross-engine replayable, unlike a native
    // xxhash sketch) give each doc a 16-component signature; for every
    // EXACT near-dup pair (the threshold-0.5 inverted-index pair set)
    // the query emits the MinHash estimate (matching components / 16)
    // NEXT TO the true Jaccard it estimates. Both sides replay the
    // signatures literally, and DedupSpec pins the estimator's mean
    // absolute error. At 100 TB the signature build is one pass over
    // the shared posting index and the estimate is a 16-row-per-pair
    // equi-join — the audit a production LSH deployment runs on a
    // sample to calibrate its band/row geometry.
    Q("dedup_minhash_estimate", (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val post = ExactJaccard.postings(docs, "doc_id", "text", "lang")
      // 16 hash components from FOUR md5 evaluations, not sixteen:
      // one md5 is 128 uniform bits = four independent 32-bit slots,
      // so hashing (the signature build's dominant cost — it runs per
      // shingle) drops 4×. Slot i = md5(⌊i/4⌋ | shingle)[8·(i%4) ..].
      // 32 bits per component is ample: a min-collision among n
      // shingles is ~n²/2³³ — and the oracle computes the identical
      // slicing, so results stay bit-equal cross-engine.
      val sigs = post
        .select(col("id"), explode(sequence(lit(0), lit(3))).as("g"), col("s"))
        .withColumn("m", md5(concat(col("g").cast("string"), lit("|"), col("s"))))
        .select(col("id"), col("g"), col("m"),
          explode(sequence(lit(0), lit(3))).as("slot"))
        .select(col("id"), (col("g") * 4 + col("slot")).as("i"),
          conv(col("m").substr(col("slot") * 8 + lit(1), lit(8)), 16, 10)
            .cast("long").as("h"))
        .groupBy(col("id"), col("i")).agg(min(col("h")).as("mh"))
        .localCheckpoint(true)
      val p = ExactJaccard.pairs(docs, "doc_id", "text", "lang",
        shingleN = 3, threshold = 0.5)
      p.join(sigs.select(col("id").as("id_a"), col("i"), col("mh").as("ma")),
          Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("i"), col("mh").as("mb")),
          Seq("id_b", "i"))
        .groupBy(col("id_a"), col("id_b"), col("jaccard"))
        .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).cast("double")
          / lit(16.0)).as("estimate"))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("estimate"))
    }, oracle = Some(s"""
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN len(string_split(text,' ')) >= 3
                    THEN list_distinct(list_transform(
                           range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))
                    ELSE [text] END AS sh
        FROM documents),
      ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM d),
      cnt AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM ex a JOIN ex b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, len(sh) AS n FROM d),
      pairs AS (
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM cnt
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
      sigm AS (
        SELECT doc_id, g.g AS g,
               md5(CAST(g.g AS VARCHAR) || '|' || ex.s) AS m
        FROM ex, (SELECT unnest(range(0, 4)) AS g) g),
      sig AS (
        SELECT doc_id, sigm.g * 4 + s.slot AS i,
               min(${CurationQueries.hexFoldSql(
                 "substr(sigm.m, s.slot * 8 + 1, 8)")}) AS mh
        FROM sigm, (SELECT unnest(range(0, 4)) AS slot) s
        GROUP BY doc_id, sigm.g * 4 + s.slot)
      SELECT p.id_a, p.id_b, p.jaccard,
             CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16.0
               AS estimate
      FROM pairs p
      JOIN sig a ON a.doc_id = p.id_a
      JOIN sig b ON b.doc_id = p.id_b AND b.i = a.i
      GROUP BY 1, 2, 3""")),

    // CROSS-DOC VERBATIM SUBSTRING dedup (the suffix-array technique
    // of "Deduplicating Training Data Makes Language Models Better",
    // Lee et al. 2022, re-expressed relationally): find every pair of
    // documents sharing a verbatim token span >= 12 tokens. Seed = all
    // positional 8-token grams; an equi-join on the gram TEXT yields
    // aligned seed matches, and a shared span of L tokens appears as
    // L-7 consecutive seed positions on one DIAGONAL (pos_a - pos_b
    // constant) — a gaps-and-islands pass per (pair, diagonal) merges
    // them and max(run)+7 recovers L exactly. Grams occurring in > 32
    // docs are dropped first (boilerplate stop-grams — same df-cap
    // role as the jaccard posting index; candidate cost then tracks
    // true overlap, not hub grams). Windows only over per-(pair,
    // diagonal) islands — bounded by the pair's matches, never the
    // corpus. At 100 TB the seed join keys would be 64-bit gram hashes
    // (same pairs modulo collisions); the oracle needs cross-engine
    // string equality, so the declared query joins on the text.
    Q("dedup_substring_spans", (spark, dir) => {
      substringRuns(spark, dir)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("run") + lit(7L)).as("max_span_tokens"),
          count(lit(1)).as("n_islands"))
        .filter(col("max_span_tokens") >= 12)
    }, oracle = Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) r
        WHERE len(t) >= 8),
      keep AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) <= 32),
      gg AS (SELECT g.* FROM g JOIN keep USING (gram)),
      m AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, b.pos AS pb
        FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      isl AS (
        SELECT id_a, id_b, pa - pb AS diag, pa,
               pa - row_number() OVER (
                 PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS island
        FROM m),
      runs AS (
        SELECT id_a, id_b, diag, island, count(*) AS run
        FROM isl GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, CAST(max(run) + 7 AS BIGINT) AS max_span_tokens,
             CAST(count(*) AS BIGINT) AS n_islands
      FROM runs GROUP BY 1, 2
      HAVING max(run) + 7 >= 12""")),

    // ACT on the detected spans (the dedup step of Lee et al. 2022:
    // remove one copy of every long verbatim substring): for each doc
    // that is the LATER (higher-id) side of a >= 12-token shared span,
    // cut its single BEST span — longest, ties broken by earliest
    // position then smallest partner id, so the choice is total-order
    // deterministic — and emit the surgery receipt: cut offset/length,
    // surviving token count, and the md5 of the rewritten text. The
    // oracle replays the identical tokenization, island merge, pick,
    // and list surgery; matching md5 proves both engines rebuilt the
    // same post-dedup document byte-for-byte.
    Q("dedup_substring_removal", (spark, dir) => {
      val docs = load(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      // ARGMAX as a hash-aggregable BIGINT max (guide: prefer
      // fixed-width aggregate buffers): max(struct(...)) forced a
      // SortAggregate over the 21.7 MB pair-candidate shuffle because
      // struct buffers are not mutable-fixed-width. The pick order
      // (cut_len DESC, cut_pos ASC) packs ORDER-ISOMORPHICALLY into
      // one BIGINT — pack = cut_len·2³¹ + (2³¹−1−cut_pos) — since both
      // fields are non-negative token offsets/lengths into a split()
      // array, which the engine Int-indexes (< 2³¹) by construction;
      // comparing packs IS comparing (cut_len, −cut_pos) lexically.
      // The old third key (id_a ASC) only broke ties between rows
      // whose (cut_len, cut_pos) already matched — rows this SELECT
      // cannot distinguish — so dropping it cannot change the result.
      // SubstringArgmaxSpec proves both properties against the struct
      // form. Oracle (row_number ... cut_len DESC, cut_pos ASC, id_a)
      // unchanged.
      val posMask = (1L << 31) - 1
      val best = substringRuns(spark, dir)
        .withColumn("cut_len", col("run") + lit(7L))
        .withColumn("cut_pos", (col("pa0") - col("diag")).cast("long"))
        .filter(col("cut_len") >= 12)
        .groupBy(col("id_b").as("doc_id"))
        .agg(max(shiftleft(col("cut_len"), 31)
          + (lit(posMask) - col("cut_pos"))).as("m"))
        .select(col("doc_id"),
          shiftright(col("m"), 31).as("cut_len"),
          (lit(posMask) - col("m").bitwiseAND(lit(posMask))).as("cut_pos"))
      best.join(docs, "doc_id")
        .withColumn("remaining", expr(
          "concat(slice(t, 1, cut_pos), " +
            "slice(t, cut_pos + cut_len + 1, size(t)))"))
        .select(col("doc_id"), col("cut_pos"), col("cut_len"),
          size(col("remaining")).cast("long").as("n_tokens_after"),
          md5(array_join(col("remaining"), " ")).as("new_md5"))
    }, oracle = Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) r
        WHERE len(t) >= 8),
      keep AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) <= 32),
      gg AS (SELECT g.* FROM g JOIN keep USING (gram)),
      m AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, b.pos AS pb
        FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      isl AS (
        SELECT id_a, id_b, pa - pb AS diag, pa,
               pa - row_number() OVER (
                 PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS island
        FROM m),
      runs AS (
        SELECT id_a, id_b, diag, island, count(*) AS run, min(pa) AS pa0
        FROM isl GROUP BY 1, 2, 3, 4),
      cand AS (
        SELECT id_b AS doc_id, id_a, run + 7 AS cut_len, pa0 - diag AS cut_pos
        FROM runs WHERE run + 7 >= 12),
      best AS (
        SELECT doc_id, cut_len, cut_pos FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY cut_len DESC, cut_pos ASC, id_a ASC) AS rn
          FROM cand) WHERE rn = 1),
      surgery AS (
        SELECT b.doc_id, b.cut_pos, b.cut_len,
               t.t[1:CAST(b.cut_pos AS BIGINT)] ||
                 t.t[CAST(b.cut_pos + b.cut_len + 1 AS BIGINT):len(t.t)] AS remaining
        FROM best b JOIN toks t ON t.doc_id = b.doc_id)
      SELECT doc_id, CAST(cut_pos AS BIGINT) AS cut_pos,
             CAST(cut_len AS BIGINT) AS cut_len,
             CAST(len(remaining) AS BIGINT) AS n_tokens_after,
             md5(COALESCE(array_to_string(remaining, ' '), '')) AS new_md5
      FROM surgery""")),
  )

  /** Shared core of the cross-doc substring queries: positional
    * 8-token-gram seeds, df-capped stop-grams, gram equi-join, and the
    * gaps-and-islands merge — one row per (pair, diagonal, island)
    * with the run length and its first seed position in the lower doc.
    * A shared run of L tokens has run = L − 7 and starts at
    * `pa0` / `pa0 − diag` in the lower/higher doc respectively. */
  /** Memoized per (session, dir): the spans report and the removal
    * step both read the same islands — one gram join pays for both (the
    * checkpointed frame is islands-sized, tiny next to the corpus).
    * (The documents table under a test-data `dir` is immutable; a
    * deployment caching over mutable inputs would key by table VERSION,
    * as the TxLog-backed caches do.) */
  private def substringRuns(spark: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    SessionScopedCache.memo(spark, "substring_runs", dir)(
      substringRuns0(spark, dir).localCheckpoint(true))

  private def substringRuns0(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 8
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val grams = docs.select(col("doc_id"), explode(expr(
        s"CASE WHEN size(t) >= $W THEN transform(sequence(0, size(t) - $W), " +
          s"i -> struct(i AS pos, array_join(slice(t, i + 1, $W), ' ') AS g)) " +
          "ELSE array() END")).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.g").as("g"))
    val keep = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= 32).select(col("g"))
    val capped = grams.join(keep, "g")
    val m = capped.as("a").join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", col("pa") - row_number().over(
        Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
          .orderBy(col("pa"))))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"), min(col("pa")).as("pa0"))
  }

  /** Generated oracle fragment: the 60 sign-bit terms of the simhash
    * signature, each a ±1 vote sum over the group's token hashes. */
  private def simhashSigSql: String =
    (0 until 60).map { j =>
      val pw = 1L << j
      s"(CASE WHEN sum(CASE WHEN (h // $pw) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN $pw ELSE 0 END)"
    }.mkString("\n          + ")
}
