package graft.queries

/** Bench-time oracle split for STAGED-STATE gates — the symmetry half
  * of the trained-state staging protocol.
  *
  * Several gates stage offline-trainable state on the Spark side (the
  * bigram LM parquet, near-dup cluster tables, BM25 idf stats, z-order
  * grid bounds, DSIR log-ratio tables) so their timed region is the
  * production SCORING pass, not training. The correctness oracle
  * (`SparkEntry.oracleSql`) stays fully self-contained — it retrains
  * everything inside one statement, which is right for a correctness
  * check but WRONG to time against a Spark pass that doesn't train:
  * the two engines would be timing different work.
  *
  * Each entry here splits that gate's oracle into `setup` (statements
  * that materialize the trained state into `bench_*` DuckDB temp
  * tables — run ONCE, untimed, exactly like the Spark side's graft.core.Staged
  * staging) and `query` (the scoring pass over the staged state — the
  * timed statement). `tools/duckdb_baseline.py` consumes the split and
  * REFUSES to use it unless `setup` + `query` reproduce the full
  * correctness oracle's result row-for-row, so the split can never
  * drift from the semantics the driver's correctness gate pins.
  *
  * Gates without an entry are timed on their full oracle — their Spark
  * side trains inline too.
  */
final case class BenchOracle(setup: Seq[String], query: String)

object BenchOracles {

  /** Same interleave expression RelationalQueries' x_zorder_key oracle
    * uses — 8-bit Morton interleave of the two binned dims. */
  private val interleave = (0 until 8).map(i =>
    s"(((b0 >> $i) & 1) << ${2 * i}) | (((b1 >> $i) & 1) << ${2 * i + 1})")
    .mkString(" | ")

  private val all0: Map[String, BenchOracle] = Map(

    // Spark stages the trained add-1 bigram LM as a parquet model
    // artifact (Staged "bigram-lm"); the timed pass explodes the docs into
    // bigrams and joins the model. Setup trains the same (bigram, logp)
    // table; the timed query is the same explode + join + per-doc avg.
    "x_bigram_logprob" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_lm_bigram AS
           WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w),
           c2 AS (SELECT bigram, count(*)::DOUBLE AS c2 FROM bg GROUP BY 1),
           c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c2) AS c1
                  FROM c2 GROUP BY 1),
           v AS (SELECT count(DISTINCT word)::DOUBLE AS v
                 FROM (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents))
           SELECT c2.bigram, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS logp
           FROM c2
           JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
           CROSS JOIN v"""),
      query =
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT doc_id, unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w)
           SELECT bg.doc_id,
             floor(avg(m.logp) * 10000 + 0.5) / 10000 AS avg_bigram_logp
           FROM bg JOIN bench_lm_bigram m USING (bigram)
           GROUP BY bg.doc_id"""),

    // Same staged LM as x_bigram_logprob (identical setup — CREATE OR
    // REPLACE makes the duplication idempotent); the timed pass is the
    // scoring + quartile-threshold + bucket map.
    "x_ppl_buckets" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_lm_bigram AS
           WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w),
           c2 AS (SELECT bigram, count(*)::DOUBLE AS c2 FROM bg GROUP BY 1),
           c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c2) AS c1
                  FROM c2 GROUP BY 1),
           v AS (SELECT count(DISTINCT word)::DOUBLE AS v
                 FROM (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents))
           SELECT c2.bigram, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS logp
           FROM c2
           JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
           CROSS JOIN v"""),
      query =
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT doc_id, unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w),
           sc AS (SELECT bg.doc_id,
                    floor(floor(avg(m.logp) * 10000 + 0.5) / 10000
                          * 10000 + 0.5)::BIGINT AS logp_u
                  FROM bg JOIN bench_lm_bigram m USING (bigram)
                  GROUP BY bg.doc_id),
           t AS (SELECT quantile_cont(logp_u, 0.25) AS t_lo,
                        quantile_cont(logp_u, 0.75) AS t_hi FROM sc)
           SELECT doc_id, logp_u,
             CASE WHEN logp_u >= t_hi THEN 'head'
                  WHEN logp_u >= t_lo THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
           FROM sc, t"""),

    // Same staged LM again for the approx-tolerance twin; the timed
    // pass is scoring + the exact-threshold cut + the per-bucket audit
    // (Spark's timed side additionally runs the approx sketch under
    // test — extra work on Spark's clock, none on DuckDB's).
    "x_ppl_buckets_approx" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_lm_bigram AS
           WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w),
           c2 AS (SELECT bigram, count(*)::DOUBLE AS c2 FROM bg GROUP BY 1),
           c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c2) AS c1
                  FROM c2 GROUP BY 1),
           v AS (SELECT count(DISTINCT word)::DOUBLE AS v
                 FROM (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents))
           SELECT c2.bigram, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS logp
           FROM c2
           JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
           CROSS JOIN v"""),
      query =
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents WHERE len(string_split(text, ' ')) >= 2),
           bg AS (SELECT doc_id, unnest(list_transform(
                    range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
                    AS bigram
                  FROM w),
           sc AS (SELECT bg.doc_id,
                    floor(floor(avg(m.logp) * 10000 + 0.5) / 10000
                          * 10000 + 0.5)::BIGINT AS logp_u
                  FROM bg JOIN bench_lm_bigram m USING (bigram)
                  GROUP BY bg.doc_id),
           t AS (SELECT quantile_cont(logp_u, 0.25) AS t_lo,
                        quantile_cont(logp_u, 0.75) AS t_hi FROM sc),
           b AS (SELECT doc_id, logp_u,
                   CASE WHEN logp_u >= t_hi THEN 'head'
                        WHEN logp_u >= t_lo THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
                 FROM sc, t)
           SELECT ppl_bucket, count(*)::BIGINT AS n_docs,
             sum(logp_u)::BIGINT AS logp_sum,
             true AS approx_within_tol
           FROM b GROUP BY 1"""),

    // Spark stages the near-dup cluster table as dedup-pipeline output
    // (Staged "clusters-minhashJ1"); the timed pass scans the twinned
    // corpus, joins the staged table, and replays the md5-bucket split.
    "x_cluster_safe_split" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_clusters_minhash AS
           WITH quarter AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
           corpus AS (
             SELECT doc_id, text FROM quarter
             UNION ALL
             SELECT doc_id + 1000000000, text FROM quarter),
           fp AS (
             SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
               CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)), '|')) AS f
             FROM corpus)
           SELECT doc_id AS id,
             min(doc_id) OVER (PARTITION BY f) AS cluster_id
           FROM fp"""),
      query =
        """WITH quarter AS (
             SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
           corpus AS (
             SELECT doc_id FROM quarter
             UNION ALL
             SELECT doc_id + 1000000000 FROM quarter),
           cl AS (
             SELECT c.doc_id, coalesce(t.cluster_id, c.doc_id) AS cluster_id
             FROM corpus c LEFT JOIN bench_clusters_minhash t
               ON t.id = c.doc_id),
           sp AS (
             SELECT doc_id, cluster_id,
               CASE WHEN b < 800000 THEN 'train'
                    WHEN b < 900000 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, cluster_id,
                     ('0x' || substr(md5('split:' || cluster_id::VARCHAR),
                       25, 8))::BIGINT % 1000000 AS b
                   FROM cl))
           SELECT split, count(*)::BIGINT AS n_docs,
             count(DISTINCT cluster_id)::BIGINT AS n_clusters,
             sum(CASE WHEN doc_id >= 1000000000 THEN 1 ELSE 0 END)::BIGINT
               AS n_twins
           FROM sp GROUP BY 1"""),

    // Spark stages the normalized-equality cluster table (Staged
    // "clusters-normEq"); the timed pass computes doc lengths, joins the staged
    // table, and runs the per-cluster argmax.
    "x_cluster_rep" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_clusters_norm AS
           WITH quarter AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
           corpus AS (
             SELECT doc_id, text FROM quarter
             UNION ALL
             SELECT doc_id + 1000000000, text || ' ... !!!' FROM quarter),
           n AS (SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))) AS nh
                 FROM corpus)
           SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY nh) AS cluster_id
           FROM n"""),
      query =
        """WITH quarter AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
           corpus AS (
             SELECT doc_id, text FROM quarter
             UNION ALL
             SELECT doc_id + 1000000000, text || ' ... !!!' FROM quarter),
           d AS (SELECT doc_id, length(text)::BIGINT AS len FROM corpus),
           j AS (SELECT d.doc_id, d.len,
                   coalesce(t.cluster_id, d.doc_id) AS cluster_id
                 FROM d LEFT JOIN bench_clusters_norm t ON t.id = d.doc_id),
           r AS (SELECT cluster_id, doc_id, len,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY len DESC, doc_id ASC) AS rk,
                   count(*) OVER (PARTITION BY cluster_id) AS n_members
                 FROM j)
           SELECT cluster_id, doc_id AS rep_id, len AS rep_score,
             n_members::BIGINT AS n_members
           FROM r WHERE rk = 1"""),

    // Spark stages the capstone's verified near-dup cluster table
    // (Staged "clusters-minhashHalfJ1" — labels for docs in classes of
    // size ≥ 2, exactly duplicateClusters' output); the timed pass is
    // the rest of the export composition: best-copy selection over the
    // staged labels, token floor, budget mix, packing, shard audit.
    "x_training_shards" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_tshard_clusters AS
           WITH d AS (
             SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                      ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                        i -> string_split(text,' ')[i] || ' ' ||
                             string_split(text,' ')[i+1] || ' ' ||
                             string_split(text,' ')[i+2]) END)), '|')) AS f
             FROM documents WHERE doc_id % 2 = 0),
           cl AS (SELECT doc_id AS id,
                    min(doc_id) OVER (PARTITION BY f) AS cluster_id,
                    count(*) OVER (PARTITION BY f) AS n
                  FROM d)
           SELECT id, cluster_id FROM cl WHERE n > 1"""),
      query =
        """WITH d AS (
             SELECT doc_id, source, text, length(text)::BIGINT AS len,
               len(string_split(text, ' '))::BIGINT AS ntok
             FROM documents WHERE doc_id % 2 = 0),
           j AS (SELECT d.doc_id, d.len,
                   coalesce(t.cluster_id, d.doc_id) AS cluster_id
                 FROM d LEFT JOIN bench_tshard_clusters t
                   ON t.id = d.doc_id),
           r AS (SELECT doc_id,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY len DESC, doc_id ASC) AS rk
                 FROM j),
           curated AS (
             SELECT d.* FROM d JOIN r USING (doc_id)
             WHERE r.rk = 1 AND d.ntok >= 10),
           w(source, wt) AS (VALUES ('src0', 0.3::DOUBLE), ('src1', 0.3::DOUBLE),
                 ('src2', 0.2::DOUBLE), ('src3', 0.2::DOUBLE)),
           tok AS (SELECT source, sum(ntok)::DOUBLE AS t
                   FROM curated WHERE source IS NOT NULL GROUP BY 1),
           f AS (SELECT w.source, least(1.0::DOUBLE, 20000 * w.wt / tok.t)
                   AS frac
                 FROM w JOIN tok USING (source)),
           mixed AS (
             SELECT c.doc_id, c.source, c.ntok FROM curated c JOIN f USING (source)
             WHERE ('0x' || substr(md5('tokbudget:' || c.doc_id::VARCHAR),
                     25, 8))::BIGINT % 1000000 < f.frac * 1000000),
           packed AS (
             SELECT doc_id, source, ntok,
               ((sum(ntok) OVER (PARTITION BY source ORDER BY doc_id)
                 - ntok) // 2048)::BIGINT AS seq_id
             FROM mixed),
           sh AS (
             SELECT doc_id, source, ntok,
               source || '#' || seq_id::VARCHAR AS sk
             FROM packed),
           keyed AS (
             SELECT doc_id, ntok, sk,
               ('0x' || substr(md5('shard:' || sk), 25, 8))::BIGINT % 16
                 AS shard,
               ('0x' || substr(md5('order:' || doc_id::VARCHAR), 25, 8))::BIGINT
                 AS ok
             FROM sh)
           SELECT shard, count(*)::BIGINT AS n_docs,
             count(DISTINCT sk)::BIGINT AS n_seqs,
             sum(ntok)::BIGINT AS total_tokens,
             sum(ok)::BIGINT AS order_sum,
             min(ok)::BIGINT AS order_min,
             max(ok)::BIGINT AS order_max
           FROM keyed GROUP BY 1"""),

    // Spark stages BM25 corpus stats (Staged "bm25-…": N, avgdl, idf per
    // term); the timed pass is the tf explode + scoring + top-k.
    "x_bm25_search" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_bm25_stats AS
           SELECT count(*)::BIGINT AS n,
             sum(len(string_split(text, ' ')))::BIGINT AS total
           FROM documents""",
        """CREATE OR REPLACE TEMP TABLE bench_bm25_idf AS
           WITH toks AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
           tf AS (
             SELECT doc_id, tok FROM toks
             WHERE tok IN ('vector', 'stream', 'window') GROUP BY 1, 2),
           dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1)
           SELECT tok,
             round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * 1e9) / 1e9 AS idf
           FROM dfs, bench_bm25_stats"""),
      query =
        """WITH toks AS (
             SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
               unnest(string_split(text, ' ')) AS tok
             FROM documents),
           tf AS (
             SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf FROM toks
             WHERE tok IN ('vector', 'stream', 'window') GROUP BY 1, 2, 3),
           sc AS (SELECT t.doc_id,
               floor(i.idf * (t.tf * (1.2 + 1.0)) /
                 (t.tf + 1.2 * ((1.0 - 0.75) +
                   0.75 * (t.dl::DOUBLE / (s.total::DOUBLE / s.n::DOUBLE))))
                 * 1e6 + 0.5)::BIGINT AS su
             FROM tf t JOIN bench_bm25_idf i USING (tok),
               bench_bm25_stats s),
           agg AS (SELECT doc_id, sum(su)::BIGINT AS score_u
                   FROM sc GROUP BY 1)
           SELECT doc_id, score_u FROM agg
           ORDER BY score_u DESC, doc_id LIMIT 20"""),

    // Spark stages the z-order grid bounds (Staged "zorder-bounds": 2 longs
    // per dim); the timed pass is the pure keying projection + bucket agg.
    "x_zorder_key" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_zorder_bounds AS
           SELECT min(user_id) AS umin, max(user_id) AS umax,
                  min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
           FROM events"""),
      query =
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
           k AS (SELECT user_id, ts_us,
                   (user_id - umin) * 256 // (umax - umin + 1) AS b0,
                   (ts_us - tmin) * 256 // (tmax - tmin + 1) AS b1
                 FROM e, bench_zorder_bounds),
           z AS (SELECT user_id, ts_us, ($interleave) AS zkey FROM k)
           SELECT zkey >> 10 AS zbucket, count(*)::BIGINT AS n,
             min(user_id) AS min_user, max(user_id) AS max_user,
             min(ts_us) AS min_ts, max(ts_us) AS max_ts
           FROM z GROUP BY 1"""),

    // Spark stages the delivery-split boundary (Staged "split-bound-full":
    // one long of corpus config state — the experiment's DEFINITION of
    // where the resident index ends and the measured delivery begins);
    // the timed statement replays the sequential two-delivery plan
    // reading the staged bound instead of recomputing the max aggregate
    // inline (the last one-aggregate timing asymmetry, r14 ADVICE).
    "x_incremental_dedup" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_incsplit_full AS
           SELECT max(doc_id) // 2 AS s FROM documents"""),
      query =
        """WITH d1 AS (
             SELECT doc_id, text FROM documents
             WHERE doc_id <= (SELECT s FROM bench_incsplit_full)),
           d2 AS (
             SELECT doc_id, text FROM documents
               WHERE doc_id > (SELECT s FROM bench_incsplit_full)
             UNION ALL SELECT doc_id + 1000000000, text FROM documents
               WHERE doc_id <= (SELECT s FROM bench_incsplit_full)
             UNION ALL SELECT doc_id + 2000000000, text FROM documents
               WHERE doc_id > (SELECT s FROM bench_incsplit_full)),
           st1 AS (
             SELECT doc_id,
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)) AS sh
             FROM d1),
           sig1 AS (
             SELECT doc_id, list_transform(sh, x -> hash(x)) AS sharr,
               md5(array_to_string(sh, '|')) AS f
             FROM st1),
           idx1 AS (
             SELECT f, min(doc_id) AS doc_id, arg_min(sharr, doc_id) AS sharr
             FROM sig1 GROUP BY f),
           st2 AS (
             SELECT doc_id,
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)) AS sh
             FROM d2),
           sig2 AS (
             SELECT doc_id, list_transform(sh, x -> hash(x)) AS sharr,
               md5(array_to_string(sh, '|')) AS f
             FROM st2),
           adm2 AS (
             SELECT s.f, min(s.doc_id) AS doc_id
             FROM sig2 s LEFT JOIN idx1 i ON i.f = s.f
             WHERE i.f IS NULL GROUP BY s.f)
           SELECT doc_id FROM idx1
           UNION ALL SELECT doc_id FROM adm2"""),

    // Same staged-boundary protocol for the quarter-corpus banded gate.
    "x_incremental_dedup_pruned" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_incsplit_q1 AS
           SELECT max(doc_id) // 2 AS s FROM documents WHERE doc_id % 4 = 1"""),
      query =
        """WITH quarter AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
           dA AS (
             SELECT doc_id, text FROM quarter
             UNION ALL SELECT doc_id + 1000000000, text FROM quarter
               WHERE doc_id <= (SELECT s FROM bench_incsplit_q1)
             UNION ALL SELECT doc_id + 2000000000, text FROM quarter
               WHERE doc_id > (SELECT s FROM bench_incsplit_q1)),
           dB AS (
             SELECT doc_id + 3000000000 AS doc_id, text FROM quarter
               WHERE doc_id <= 32
             UNION ALL SELECT * FROM (VALUES
               (3100000001, 'prunedfresh alpha one two three four'),
               (3100000002, 'prunedfresh beta five six seven eight'),
               (3100000003, 'prunedfresh gamma nine ten eleven twelve'),
               (3100000004, 'prunedfresh delta thirteen fourteen fifteen'))
               AS t(doc_id, text)),
           sigA AS (
             SELECT doc_id, list_transform(sh, x -> hash(x)) AS sharr,
               md5(array_to_string(sh, '|')) AS f
             FROM (SELECT doc_id,
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)) AS sh
               FROM dA)),
           idxA AS (
             SELECT f, min(doc_id) AS doc_id, arg_min(sharr, doc_id) AS sharr
             FROM sigA GROUP BY f),
           sigB AS (
             SELECT doc_id, list_transform(sh, x -> hash(x)) AS sharr,
               md5(array_to_string(sh, '|')) AS f
             FROM (SELECT doc_id,
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)) AS sh
               FROM dB)),
           admB AS (
             SELECT s.f, min(s.doc_id) AS doc_id
             FROM sigB s LEFT JOIN idxA i ON i.f = s.f
             WHERE i.f IS NULL GROUP BY s.f)
           SELECT doc_id FROM idxA
           UNION ALL SELECT doc_id FROM admB"""),

    // The streaming gate stages its whole resident index offline
    // (Staged "st-inc-dedup-base" admits the even-half slice; the timed region is
    // ONE twin-wave admission through the micro-batch sink). Setup
    // builds the same resident index as a bench_ table; the timed
    // statement shingles the twin delivery for real and replays the
    // admission anti-join — the same one-admission work Spark times.
    "st_incremental_dedup" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_stinc_idx AS
           WITH evens AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0)
           SELECT f, min(doc_id) AS doc_id
           FROM (
             SELECT doc_id, md5(array_to_string(
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)), '|')) AS f
             FROM evens)
           GROUP BY f"""),
      query =
        """WITH d2 AS (
             SELECT doc_id + 1000000000 AS doc_id, text FROM documents
             WHERE doc_id % 4 = 0),
           sig2 AS (
             SELECT doc_id, md5(array_to_string(
               list_sort(list_distinct(
                 CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
                    ELSE list_transform(range(1, len(string_split(text,' ')) - 1),
                      i -> string_split(text,' ')[i] || ' ' ||
                           string_split(text,' ')[i+1] || ' ' ||
                           string_split(text,' ')[i+2]) END)), '|')) AS f
             FROM d2),
           adm2 AS (
             SELECT s.f, min(s.doc_id) AS doc_id
             FROM sig2 s LEFT JOIN bench_stinc_idx i ON i.f = s.f
             WHERE i.f IS NULL GROUP BY s.f)
           SELECT doc_id FROM bench_stinc_idx
           UNION ALL SELECT doc_id FROM adm2"""),

    // Spark stages the DSIR log-ratio table (Staged "dsir-full",
    // 4096 rows); the timed pass is the per-doc bigram-bucket scoring.
    "x_dsir_weights" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_dsir_ratio_full AS
           WITH grams AS (
             SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || '_' ||
                    string_split(text, ' ')[i + 1])) AS bigram
             FROM documents),
           b AS (SELECT doc_id,
                   ('0x' || substr(md5('dsir:' || bigram), 25, 8))::BIGINT
                     % 4096 AS bucket
                 FROM grams),
           tcnt AS (SELECT bucket, count(*) AS n_t FROM b
                    JOIN documents d USING (doc_id)
                    WHERE d.lang = 'en' GROUP BY 1),
           rcnt AS (SELECT bucket, count(*) AS n_r FROM b GROUP BY 1),
           tot AS (SELECT
               (SELECT count(*) FROM b JOIN documents d USING (doc_id)
                WHERE d.lang = 'en') AS tot_t,
               (SELECT count(*) FROM b) AS tot_r)
           SELECT r.i AS bucket,
               floor((ln((coalesce(n_t, 0) + 1)::DOUBLE / (tot_t + 4096)) -
                      ln((coalesce(n_r, 0) + 1)::DOUBLE / (tot_r + 4096)))
                     * 1000000 + 0.5) / 1000000 AS log_ratio
           FROM range(0, 4096) r(i)
           LEFT JOIN tcnt ON tcnt.bucket = r.i
           LEFT JOIN rcnt ON rcnt.bucket = r.i
           CROSS JOIN tot"""),
      query =
        """WITH grams AS (
             SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || '_' ||
                    string_split(text, ' ')[i + 1])) AS bigram
             FROM documents),
           b AS (SELECT doc_id,
                   ('0x' || substr(md5('dsir:' || bigram), 25, 8))::BIGINT
                     % 4096 AS bucket
                 FROM grams)
           SELECT d.doc_id,
             floor((coalesce(sum(round(log_ratio * 1000000)::BIGINT), 0)::DOUBLE
                    / 1000000) * 10000 + 0.5) / 10000 AS log_w
           FROM documents d
           LEFT JOIN b ON b.doc_id = d.doc_id
           LEFT JOIN bench_dsir_ratio_full ratio ON ratio.bucket = b.bucket
           GROUP BY 1"""),

    // Same lifecycle for the half-corpus ratio table (Staged
    // "dsir-half"); the timed pass is scoring + the top-20% selection.
    "x_dsir_select" -> BenchOracle(
      setup = Seq(
        """CREATE OR REPLACE TEMP TABLE bench_dsir_ratio_half AS
           WITH half AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
           grams AS (
             SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || '_' ||
                    string_split(text, ' ')[i + 1])) AS bigram
             FROM half),
           b AS (SELECT doc_id,
                   ('0x' || substr(md5('dsir:' || bigram), 25, 8))::BIGINT
                     % 4096 AS bucket
                 FROM grams),
           tcnt AS (SELECT bucket, count(*) AS n_t FROM b
                    JOIN half d USING (doc_id)
                    WHERE d.lang = 'en' GROUP BY 1),
           rcnt AS (SELECT bucket, count(*) AS n_r FROM b GROUP BY 1),
           tot AS (SELECT
               (SELECT count(*) FROM b JOIN half d USING (doc_id)
                WHERE d.lang = 'en') AS tot_t,
               (SELECT count(*) FROM b) AS tot_r)
           SELECT r.i AS bucket,
               floor((ln((coalesce(n_t, 0) + 1)::DOUBLE / (tot_t + 4096)) -
                      ln((coalesce(n_r, 0) + 1)::DOUBLE / (tot_r + 4096)))
                     * 1000000 + 0.5) / 1000000 AS log_ratio
           FROM range(0, 4096) r(i)
           LEFT JOIN tcnt ON tcnt.bucket = r.i
           LEFT JOIN rcnt ON rcnt.bucket = r.i
           CROSS JOIN tot"""),
      query =
        """WITH half AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
           grams AS (
             SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || '_' ||
                    string_split(text, ' ')[i + 1])) AS bigram
             FROM half),
           b AS (SELECT doc_id,
                   ('0x' || substr(md5('dsir:' || bigram), 25, 8))::BIGINT
                     % 4096 AS bucket
                 FROM grams),
           w AS (SELECT d.doc_id,
                   coalesce(sum(round(log_ratio * 1000000)::BIGINT), 0)::DOUBLE
                     / 1000000 AS lw
                 FROM half d
                 LEFT JOIN b ON b.doc_id = d.doc_id
                 LEFT JOIN bench_dsir_ratio_half ratio
                   ON ratio.bucket = b.bucket
                 GROUP BY 1)
           SELECT doc_id, floor(lw * 10000 + 0.5) / 10000 AS log_w FROM w
           QUALIFY row_number() OVER (ORDER BY lw DESC, doc_id ASC) <=
             (SELECT count(*) // 5 FROM half)""")
  )

  /** The distributed-admission twin stages the same delivery-split
    * boundary and times the same sequential two-delivery plan — the
    * engines' timed work matches x_incremental_dedup's symmetry
    * argument unchanged.
    */
  val all: Map[String, BenchOracle] =
    all0 + ("x_incremental_dedup_dist" -> all0("x_incremental_dedup"))
}
