package graft
package catalog

import graft.dedup.Dedup
import graft.operators._
import graft.text.TextFunctions
import Shared._
import org.apache.spark.sql.functions._

/** Near-duplicate detection: exact, shingle/Jaccard, MinHash/LSH, SimHash,
  * line-level and cross-corpus dedup plus cluster survivors.
  */
object DedupQueries {

  /** Universal-hash minhash aggregate list (matches [[Dedup.minhashSignatures]]). */
  private def minhashAggSql(k: Int, alias: Int => String): String =
    (0 until k).map { j =>
      val (a, b) = Dedup.MinhashParams(j)
      s"min((sh*$a + $b) % ${Dedup.MinhashPrime}) AS ${alias(j)}"
    }.mkString(", ")

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", (s, dir) => Dedup.exact(docs(s, dir)),
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    QueryDef("q_dup_spans", (s, dir) => Dedup.duplicateSpans(docs(s, dir), w = 10),
      s"""WITH tk AS (SELECT doc_id AS id, ${wordTokensSql("text")} AS toks FROM documents),
         |sp AS (SELECT id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  unnest(CASE WHEN len(toks)>=10 THEN list_transform(range(1, len(toks)-8), i -> {'pos': i, 'g': array_to_string(toks[i:i+9],' ')}) ELSE [] END) AS s
         |  FROM tk),
         |sh AS (SELECT id, n_tokens, CAST(s.pos AS BIGINT) AS pos, ${h32("s.g")} AS sh FROM sp),
         |hot AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY 1) WHERE df > 1),
         |d AS (SELECT id, n_tokens, pos FROM sh WHERE sh IN (SELECT sh FROM hot)),
         |b AS (SELECT id, n_tokens, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) <= 10 THEN 0 ELSE 1 END AS brk FROM d),
         |isl AS (SELECT id, n_tokens, pos, sum(brk) OVER (PARTITION BY id ORDER BY pos) AS g FROM b),
         |spans AS (SELECT id, g, any_value(n_tokens) AS n_tokens, min(pos) AS s, max(pos)+9 AS e FROM isl GROUP BY 1,2),
         |agg AS (SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e-s+1) AS BIGINT) AS dup_tokens, any_value(n_tokens) AS n_tokens FROM spans GROUP BY 1)
         |SELECT doc_id, n_spans, dup_tokens, n_tokens,
         |  ${r6("CAST(dup_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE)")} AS dup_frac
         |FROM agg""".stripMargin),

    QueryDef("q_dedup_jaccard", (s, dir) =>
      Dedup
        .ngramJaccardPairs(docs(s, dir), threshold = 0.5, n = 5, maxDocFreq = 1000)
        .select(col("id_a"), col("id_b"), graft.functions.Portable.r6(col("jaccard")).as("jaccard")),
      s"""WITH $shingleCtes,
         |$shingleOverlapCtes
         |SELECT ia AS id_a, ib AS id_b, ${r6("CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc)")} AS jaccard
         |FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
         |WHERE CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc) >= 0.5""".stripMargin),

    QueryDef("q_dedup_cluster", (s, dir) =>
      Dedup
        .connectedComponents(Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5, n = 5, maxDocFreq = 1000))
        .select(col("id"), col("label").as("cluster_id")),
      // transitive closure of the jaccard pair graph; cluster = min reachable id
      s"WITH RECURSIVE $closureCtes\nSELECT id, cluster_id FROM clusters"),

    // retention policy composed on the cluster graph: survivors are the
    // LONGEST doc per cluster, not the min-id canonical
    QueryDef("q_dedup_survivors", { (s, dir) =>
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(d, threshold = 0.5, n = 5, maxDocFreq = 1000))
      Dedup
        .keepBestPerCluster(
          d.select(col("doc_id").as("id"), col("n_chars").cast("long").as("score")),
          clusters, "score")
        .select(col("cluster_id"), col("id"), col("score"))
    },
      // retention policy: keep the longest doc per near-dup cluster
      // (tie -> smallest id); un-clustered docs are their own singleton
      s"""WITH RECURSIVE $closureCtes,
         |d AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS score FROM documents),
         |withc AS (SELECT d.id, coalesce(c.cluster_id, d.id) AS cluster_id, d.score
         |  FROM d LEFT JOIN clusters c ON d.id = c.id),
         |r AS (SELECT cluster_id, id, score,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, id) AS rn FROM withc)
         |SELECT cluster_id, id, score FROM r WHERE rn = 1""".stripMargin),

    QueryDef("q_minhash_sigs", (s, dir) => Dedup.minhashSignatures(docs(s, dir), numHashes = 8, n = 5),
      s"""WITH $shingleCtes
         |SELECT id, ${minhashAggSql(8, j => s"minhash_$j")}
         |FROM shh GROUP BY 1""".stripMargin),

    QueryDef("q_dedup_minhash", (s, dir) =>
      Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs(s, dir), numHashes = 8, n = 5), numHashes = 8, numBands = 4),
      // buckets over the 1000 cap are dropped whole (mirrors maxBucketSize)
      s"""WITH $shingleCtes,
         |sg AS (SELECT id, ${minhashAggSql(8, j => s"m$j")} FROM shh GROUP BY 1),
         |bands0 AS (${(0 until 4).map(b => s"SELECT id, $b AS band, md5(concat(CAST(m${2 * b} AS VARCHAR),'|',CAST(m${2 * b + 1} AS VARCHAR))) AS sig FROM sg").mkString(" UNION ALL ")}),
         |bands AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, sig) AS bsz FROM bands0) WHERE bsz <= 1000)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id""".stripMargin),

    QueryDef("q_simhash", (s, dir) => Dedup.simhash(docs(s, dir), bits = 32),
      s"""WITH t AS (SELECT doc_id AS id, unnest(${wordTokensSql("text")}) AS tok FROM documents),
         |w AS (SELECT id, tok, count(*) AS w, ${h32("tok")} AS h FROM t GROUP BY 1, 2),
         |v AS (SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS v
         |      FROM w, (SELECT unnest(range(0, 32)) AS b) GROUP BY 1, 2)
         |SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |FROM v GROUP BY 1""".stripMargin),

    QueryDef("q_simhash_pairs", (s, dir) =>
      Dedup
        .simhashNearDupPairs(Dedup.simhash(docs(s, dir), bits = 32), bits = 32, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
      // pigeonhole hamming blocks: 4 blocks x 8 bits; any pair within
      // hamming 3 shares an exact block
      s"""WITH t AS (SELECT doc_id AS id, unnest(${wordTokensSql("text")}) AS tok FROM documents),
         |w AS (SELECT id, tok, count(*) AS w, ${h32("tok")} AS h FROM t GROUP BY 1, 2),
         |v AS (SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS v
         |      FROM w, (SELECT unnest(range(0, 32)) AS b) GROUP BY 1, 2),
         |sg AS (SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |       FROM v GROUP BY 1),
         |bl0 AS (SELECT id, simhash, b AS blk, (simhash >> (b * 8)) & 255 AS v
         |       FROM sg, (SELECT unnest(range(0, 4)) AS b)),
         |bl AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY blk, v) AS bsz FROM bl0) WHERE bsz <= 1000)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bl a JOIN bl b ON a.blk = b.blk AND a.v = b.v AND a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    QueryDef("q_contamination", { (s, dir) =>
      val d = docs(s, dir)
      Dedup
        .contaminationFlags(d, d.filter(col("doc_id") < 50), n = 5, minCommon = 10)
        .select(col("id"), col("n_common"), col("contaminated"))
    },
      // benchmark = docs with id < 50 (a subset of the corpus, so those
      // docs flag themselves — exactly what decontamination should find)
      s"""WITH $shingleCtes,
         |bs AS (SELECT DISTINCT sh FROM shh WHERE id < 50)
         |SELECT shh.id, count(*) AS n_common, count(*) >= 10 AS contaminated
         |FROM shh JOIN bs USING (sh) GROUP BY 1""".stripMargin),

    // corpus-wide line dedup + reassembly; the corpus has no newlines,
    // so multi-line docs are derived deterministically in both engines
    // (every " table " becomes a line break)
    QueryDef("q_line_dedup", (s, dir) =>
      graft.text.LineDedup.dedupLines(
        docs(s, dir).select(col("doc_id"),
          replace(col("text"), lit(" table "), lit("\n")).as("text")),
        "doc_id", "text"),
      """WITH dd AS (SELECT doc_id, replace(text, ' table ', chr(10)) AS text FROM documents),
        |l0 AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |       unnest(range(0, len(string_split(text, chr(10))))) AS pos FROM dd),
        |l AS (SELECT doc_id, pos, line FROM l0 WHERE trim(line) <> ''),
        |k AS (SELECT doc_id, pos, line FROM (
        |  SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l) WHERE rn = 1)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM k GROUP BY doc_id""".stripMargin),

    // incremental-ingest cross-corpus dedup: everything whose normalized
    // text already appears among docs 0..99 is dropped (including those
    // docs themselves — they match the reference verbatim)
    QueryDef("q_cross_dedup", { (s, dir) =>
      val d = docs(s, dir)
      Dedup
        .dedupAgainst(d, d.filter(col("doc_id") < 100))
        .select(col("doc_id"), col("lang"))
    },
      s"""SELECT doc_id, lang FROM documents dd WHERE NOT EXISTS (
         |  SELECT 1 FROM documents r WHERE r.doc_id < 100
         |  AND md5(trim(regexp_replace(lower(r.text), '[^a-z0-9]+', ' ', 'g')))
         |    = md5(trim(regexp_replace(lower(dd.text), '[^a-z0-9]+', ' ', 'g'))))""".stripMargin),

    // split-leakage audit: near-dup pairs crossing a train/eval split
    QueryDef("q_leakage", (s, dir) =>
      Dedup
        .crossSplitLeakage(
          docs(s, dir).withColumn("split",
            when(col("doc_id") % 10 < 8, lit("train")).otherwise(lit("eval"))),
          "split", threshold = 0.5, n = 5)
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          graft.functions.Portable.r6(col("jaccard")).as("jaccard")),
      s"""WITH $shingleCtes,
         |$shingleOverlapCtes,
         |pr AS (SELECT ia AS id_a, ib AS id_b, ${r6("CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc)")} AS jaccard
         |  FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
         |  WHERE CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc) >= 0.5)
         |SELECT id_a, id_b,
         |  CASE WHEN id_a % 10 < 8 THEN 'train' ELSE 'eval' END AS split_a,
         |  CASE WHEN id_b % 10 < 8 THEN 'train' ELSE 'eval' END AS split_b,
         |  jaccard
         |FROM pr
         |WHERE (CASE WHEN id_a % 10 < 8 THEN 'train' ELSE 'eval' END) <>
         |      (CASE WHEN id_b % 10 < 8 THEN 'train' ELSE 'eval' END)""".stripMargin),

    // per-source exact-duplication triage report
    QueryDef("q_dup_stats", (s, dir) =>
      Dedup.duplicationStats(docs(s, dir), "source")
        .select(col("g").as("source"), col("n_docs"), col("n_dups"),
          graft.functions.Portable.r6(col("dup_rate")).as("dup_rate")),
      s"""WITH f AS (SELECT doc_id, source,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |v AS (SELECT source,
        |    CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS vict
        |  FROM f)
        |SELECT source, count(*) AS n_docs, CAST(sum(vict) AS BIGINT) AS n_dups,
        |  ${r6("CAST(sum(vict) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_rate
        |FROM v GROUP BY 1""".stripMargin),

    // source-overlap matrix from MERGED minhash sketches (union = min)
    QueryDef("q_source_sim", (s, dir) =>
      Dedup.groupMinhashSimilarity(docs(s, dir), "source", numHashes = 16, n = 3)
        .select(col("g_a"), col("g_b"), col("n_agree"),
          graft.functions.Portable.r6(col("est_jaccard")).as("est_jaccard")),
      {
      val unions = (0 until 16).map(j => s"SELECT g, $j AS j, m$j AS v FROM sigw")
        .mkString(" UNION ALL ")
      s"""WITH tk AS (SELECT source AS g, ${wordTokensSql("text")} AS toks FROM documents),
         |sh0 AS (SELECT g, unnest(CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2],' ')) ELSE [] END) AS shingle FROM tk),
         |shh AS (SELECT DISTINCT g, ${h32("shingle")} AS sh FROM sh0),
         |sigw AS (SELECT g, ${minhashAggSql(16, j => s"m$j")} FROM shh GROUP BY 1),
         |lng AS ($unions),
         |p AS (SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_agree
         |      FROM lng a JOIN lng b ON a.j = b.j AND a.v = b.v AND a.g < b.g GROUP BY 1, 2)
         |SELECT g_a, g_b, n_agree,
         |  ${r6("CAST(n_agree AS DOUBLE) / 16")} AS est_jaccard
         |FROM p""".stripMargin
    }),

    // asymmetric containment pairs (quote/subset detection)
    QueryDef("q_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(docs(s, dir), threshold = 0.4, n = 5)
        .select(col("id_a"), col("id_b"),
          graft.functions.Portable.r6(col("cont_a")).as("cont_a"),
          graft.functions.Portable.r6(col("cont_b")).as("cont_b")),
      s"""WITH $shingleCtes,
         |$shingleOverlapCtes
         |SELECT ia AS id_a, ib AS id_b,
         |  ${r6("CAST(nc AS DOUBLE) / ca.n_sh")} AS cont_a,
         |  ${r6("CAST(nc AS DOUBLE) / cb.n_sh")} AS cont_b
         |FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
         |WHERE greatest(CAST(nc AS DOUBLE) / ca.n_sh, CAST(nc AS DOUBLE) / cb.n_sh) >= 0.4""".stripMargin),

    // MinHash/LSH calibration audit on the deterministic 400-doc sample:
    // per exact-Jaccard bin, sketch estimate vs band catch rate vs theory
    QueryDef("q_lsh_tuning", (s, dir) =>
      graft.dedup.LshTuning.calibrationReport(docs(s, dir), sampleN = 400)
        .select(col("bin"), col("n_pairs"),
          graft.functions.Portable.r6(col("mean_est")).as("mean_est"),
          graft.functions.Portable.r6(col("catch_rate")).as("catch_rate"),
          graft.functions.Portable.r6(col("theory")).as("theory")),
      {
      val agree = (0 until 8)
        .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
      val caught = (0 until 4)
        .map(bd => (2 * bd until 2 * bd + 2).map(j => s"a.m$j = b.m$j").mkString(" AND "))
        .mkString("(", ") OR (", ")")
      s"""WITH sm AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 400),
         |tk AS (SELECT doc_id AS id, ${wordTokensSql("text")} AS toks FROM sm),
         |sh0 AS (SELECT id, unnest(CASE WHEN len(toks)>=5 THEN list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4],' ')) ELSE [] END) AS shingle FROM tk),
         |shh AS (SELECT DISTINCT id, ${h32("shingle")} AS sh FROM sh0),
         |cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM shh GROUP BY 1),
         |com AS (SELECT a.id AS ia, b.id AS ib, CAST(count(*) AS BIGINT) AS nc
         |        FROM shh a JOIN shh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         |jac AS (SELECT ia, ib, CAST(nc AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - nc AS DOUBLE) AS jac
         |        FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id),
         |sg AS (SELECT id, ${minhashAggSql(8, j => s"m$j")} FROM shh GROUP BY 1),
         |pp AS (SELECT jac.jac,
         |        CAST($agree AS DOUBLE) / 8 AS est,
         |        CASE WHEN $caught THEN 1 ELSE 0 END AS c
         |      FROM jac JOIN sg a ON jac.ia = a.id JOIN sg b ON jac.ib = b.id),
         |bn AS (SELECT least(9, CAST(floor(jac * 10) AS BIGINT)) AS bin, est, c FROM pp),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
         |        ${dsum("est")} AS se,
         |        CAST(sum(c) AS BIGINT) AS nc FROM bn GROUP BY 1),
         |t AS (SELECT bin, n_pairs, se, nc,
         |        (CAST(bin AS DOUBLE) + 0.5) / 10 AS s FROM g)
         |SELECT bin, n_pairs,
         |  ${r6("se / CAST(n_pairs AS DOUBLE)")} AS mean_est,
         |  ${r6("CAST(nc AS DOUBLE) / CAST(n_pairs AS DOUBLE)")} AS catch_rate,
         |  ${r6("1.0 - (1.0 - s*s) * (1.0 - s*s) * (1.0 - s*s) * (1.0 - s*s)")} AS theory
         |FROM t""".stripMargin
    }),

    // per-source boilerplate-line report (top 5 lines stamped into >= 3
    // docs; same line-ification as q_line_dedup, plus a deterministic
    // per-source footer on every 2nd doc so the template-stamping case
    // is actually exercised — q_markup's wrapping discipline)
    QueryDef("q_boilerplate", (s, dir) =>
      graft.text.LineDedup.boilerplateReport(
          docs(s, dir).select(col("doc_id"), col("source"),
            concat(
              replace(col("text"), lit(" table "), lit("\n")),
              when(pmod(col("doc_id"), lit(2)) === 0,
                concat(lit("\ncopyright "), col("source"))).otherwise(lit(""))).as("text")),
          "doc_id", "text", "source", minDocs = 3L, topK = 5)
        .select(col("group").as("source"), col("line"), col("n_docs"), col("rank")),
      """WITH w AS (SELECT doc_id, source,
        |    concat(replace(text, ' table ', chr(10)),
        |      CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'copyright ', source) ELSE '' END) AS t
        |  FROM documents),
        |l0 AS (SELECT source, doc_id, unnest(string_split(t, chr(10))) AS line FROM w),
        |l1 AS (SELECT DISTINCT source, doc_id, line FROM l0 WHERE trim(line) <> ''),
        |f AS (SELECT source, line, CAST(count(*) AS BIGINT) AS n_docs FROM l1 GROUP BY 1, 2),
        |r AS (SELECT source, line, n_docs,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_docs DESC, line) AS BIGINT) AS "rank"
        |      FROM f WHERE n_docs >= 3)
        |SELECT source, line, n_docs, "rank" FROM r WHERE "rank" <= 5""".stripMargin),

    // duplicate-influx monitor: exact-dup rate per arrival bucket of
    // 50 docs — WHEN did duplication start, not just how much
    QueryDef("q_dup_influx", (s, dir) =>
      Dedup.duplicateInflux(docs(s, dir), "doc_id", "text", bucketWidth = 50L),
      s"""WITH fp AS (SELECT doc_id AS o,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(s)+1), i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
         |      (acc, c) -> (acc*31 + c) % 1000000007) AS f
         |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
         |    FROM documents)),
         |fs AS (SELECT f, min(o) AS first FROM fp GROUP BY 1),
         |j AS (SELECT CAST((fp.o - ((fp.o % 50 + 50) % 50)) // 50 AS BIGINT) AS bucket,
         |    fp.o > fs.first AS dup FROM fp JOIN fs USING (f))
         |SELECT bucket, count(*) AS n_docs,
         |  count(CASE WHEN dup THEN 1 END) AS n_dups,
         |  ${r6("CAST(count(CASE WHEN dup THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_rate
         |FROM j GROUP BY 1""".stripMargin),

    // B-cubed clustering eval: does 32-bit SimHash (as a bucket id)
    // recover the exact-fingerprint duplicate classes — precision =
    // bucket purity (hash collisions), recall = class cohesion
    QueryDef("q_bcubed", { (s, dir) =>
      val sh = Dedup.simhash(docs(s, dir), bits = 32)
      val gold = docs(s, dir).select(col("doc_id").as("id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      Evaluation.bCubed(sh.join(gold, "id"), "simhash", "fp")
    },
      s"""WITH t AS (SELECT doc_id AS id, unnest(${wordTokensSql("text")}) AS tok FROM documents),
         |w AS (SELECT id, tok, count(*) AS w, ${h32("tok")} AS h FROM t GROUP BY 1, 2),
         |v AS (SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS v
         |      FROM w, (SELECT unnest(range(0, 32)) AS b) GROUP BY 1, 2),
         |sh AS (SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
         |      FROM v GROUP BY 1),
         |g AS (SELECT doc_id AS id, md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))) AS fp FROM documents),
         |j0 AS (SELECT CAST(sh.simhash AS VARCHAR) AS cl, g.fp AS lb FROM sh JOIN g USING (id)),
         |dr AS (SELECT CAST(count(CASE WHEN cl IS NULL OR lb IS NULL THEN 1 END) AS BIGINT) AS n_dropped FROM j0),
         |cells AS (SELECT cl, lb, count(*) AS cell FROM j0 WHERE cl IS NOT NULL AND lb IS NOT NULL GROUP BY 1, 2),
         |cs AS (SELECT cl, sum(cell) AS cssz FROM cells GROUP BY 1),
         |ls AS (SELECT lb, sum(cell) AS lssz FROM cells GROUP BY 1),
         |a AS (SELECT CAST(sum(cell) AS BIGINT) AS n_items,
         |    CAST(count(DISTINCT cells.cl) AS BIGINT) AS n_clusters,
         |    CAST(count(DISTINCT cells.lb) AS BIGINT) AS n_labels,
         |    ${dsum(r6("CAST(cell AS DOUBLE) * CAST(cell AS DOUBLE) / CAST(cssz AS DOUBLE)"))} AS sp,
         |    ${dsum(r6("CAST(cell AS DOUBLE) * CAST(cell AS DOUBLE) / CAST(lssz AS DOUBLE)"))} AS sr
         |  FROM cells JOIN cs USING (cl) JOIN ls USING (lb))
         |SELECT n_items, dr.n_dropped, n_clusters, n_labels,
         |  CASE WHEN n_items > 0 THEN ${r6("sp / CAST(n_items AS DOUBLE)")} END AS bcubed_precision,
         |  CASE WHEN n_items > 0 THEN ${r6("sr / CAST(n_items AS DOUBLE)")} END AS bcubed_recall,
         |  CASE WHEN n_items > 0 AND sp + sr > 0 THEN
         |    ${r6("2.0 * (sp / CAST(n_items AS DOUBLE)) * (sr / CAST(n_items AS DOUBLE)) / (sp / CAST(n_items AS DOUBLE) + sr / CAST(n_items AS DOUBLE))")}
         |  END AS bcubed_f1
         |FROM a, dr""".stripMargin)
  )
}
