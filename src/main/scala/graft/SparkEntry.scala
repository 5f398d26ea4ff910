package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{GraftFrame, GraftSession}
import graft.api.GraftFrame.{asc, desc}
import graft.dedup.Dedup
import graft.functions.{hashfns, textfns}
import graft.multimodal.Multimodal
import graft.operators.{Bpe, Decontam, Freq, Layout, Search, Shuffle}
import graft.similarity.Ann
import graft.sources.Tables
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §2 (query keys) + §7.
  *
  * Oracle-parity rules (every oracle below follows them):
  *  - computed columns aliased identically on both sides;
  *  - a total-order ORDER BY on both sides;
  *  - row-level float math left unrounded (identical IEEE ops on both
  *    engines ⇒ bit-identical doubles);
  *  - aggregated floats rounded at a precision whose grid step is far
  *    above cross-engine summation-order error (money sums → 2dp on a
  *    2dp-true-valued grid; means → 4dp; variances → 0dp);
  *  - `sum(int)` cast to BIGINT in DuckDB (it widens to HUGEINT);
  *  - timestamps compared as epoch seconds / millis (BIGINT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def g(s: SparkSession, dir: String, name: String): GraftFrame =
    GraftFrame(t(s, dir, name))

  // pid-suffixed: the warehouse directory is shared host-wide (cwd
  // relative), so concurrent JVMs must not overwrite each other's
  // managed-table locations mid-read
  private[graft] val Q45LineitemTable =
    s"graft_q45_lineitem_b_${ProcessHandle.current().pid()}"
  private[graft] val Q45OrdersTable =
    s"graft_q45_orders_b_${ProcessHandle.current().pid()}"
  private val bucketedWrittenFor = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Write the q45 bucketed tables once per (JVM, sf dir): 16 buckets
    * on the join key both sides, so the sort-merge join and the
    * follow-on aggregate need no exchange. Re-runs only when the sf
    * dir changes (the memo prevents Bench's reps from re-writing, and
    * a dir switch from reading stale data). */
  private[graft] def ensureBucketedTables(s: SparkSession, dir: String): Unit =
    synchronized {
      if (bucketedWrittenFor.get() != dir) {
        // a managed table's DIRECTORY survives the in-memory catalog
        // across JVMs; saveAsTable would then fail on the orphaned
        // location — drop both the catalog entry and the stale dir
        Seq(Q45LineitemTable, Q45OrdersTable).foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          def rm(f: java.io.File): Unit = if (f.exists()) {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(new java.io.File(
            s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl))
        }
        graft.sources.Tables.writeBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          Q45LineitemTable, "l_orderkey", 16)
        graft.sources.Tables.writeBucketed(
          t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
            col("o_totalprice")),
          Q45OrdersTable, "l_orderkey", 16)
        bucketedWrittenFor.set(dir)
      }
    }

  /** Shared memo + write-once discipline for the q46/q48/q49 setup
    * sinks. Keyed by (prefix, sf dir) — not last-dir-wins, so a JVM
    * alternating between sf dirs (spec suite beside a Verify run)
    * writes each layout exactly once. The path carries the pid so two
    * JVMs on one host (a Bench run beside a Verify run) can't race
    * one process's overwrite against the other's read. A failed write
    * is NOT memoised — the next call retries. */
  private val writtenOnce = new scala.collection.mutable.HashSet[String]()

  private def ensureWrittenOnce(prefix: String, dir: String)(write: String => Unit): String = {
    val path = s"${sys.props("java.io.tmpdir")}/${prefix}_" +
      s"${ProcessHandle.current().pid()}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val key = s"$prefix|$dir"
    synchronized {
      if (!writtenOnce.contains(key)) { write(path); writtenOnce += key }
    }
    path
  }

  /** Write lineitem as ORC once per (JVM, sf dir) — the q46 setup.
    * Returns the ORC directory. */
  private[graft] def ensureOrcWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q46_orc", dir) { path =>
      graft.sources.Tables.writeOrc(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
        path)
    }

  /** Write lineitem hive-partitioned by l_returnflag once per (JVM, sf
    * dir) — the q48 setup. Returns the partitioned directory. */
  private[graft] def ensurePartitionedWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q48_part", dir) { path =>
      graft.sources.Tables.writePartitioned(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice")),
        path, Seq("l_returnflag"))
    }

  /** q63 setup, once per (JVM, sf dir): events written partitioned by
    * event_type with 16 files per partition directory (the small-file
    * mess a streaming sink or per-task writer leaves behind), then
    * compacted per-directory toward 64 MB files — every directory
    * collapses to one file at these sizes. Returns the COMPACTED
    * directory; the declared query aggregates it against the
    * original-table oracle (content must survive both rewrites
    * exactly). */
  private[graft] def ensureCompactedWritten(s: SparkSession, dir: String): String = {
    val small = ensureWrittenOnce("graft_q63_small", dir) { path =>
      t(s, dir, "events").select("event_id", "event_type", "value")
        .repartition(16)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
    }
    ensureWrittenOnce("graft_q63_compact", dir) { path =>
      graft.operators.Layout.compact(s, small, path,
        targetFileBytes = 1L << 26, partitionCols = Seq("event_type"))
    }
  }

  /** Write `documents` as line-oriented text (`doc_id \t text`, one doc
    * per line — the raw-corpus/JSONL-ish ingestion layout) once per
    * (JVM, sf dir) — the q49 setup. The corpus text contains no tabs
    * or newlines (TESTDATA), and the reader splits on the FIRST tab
    * only, so the round-trip is exact byte-for-byte. */
  private[graft] def ensureTextWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q49_text", dir) { path =>
      t(s, dir, "documents")
        .select(concat(col("doc_id").cast("string"), lit("\t"), col("text"))
          .as("value"))
        .write.mode("overwrite").text(path)
    }

  /** documents ∪ shifted copy — planted exact duplicates. */
  /** The planted-copy id offset shared by every dup-fixture query AND
    * hardcoded in their DuckDB oracles. */
  private val DupOffset = 10000L

  /** Scan-side guard: a base doc_id at or past [[DupOffset]] would
    * COLLIDE with a planted copy's id — two rows sharing one id value
    * with different texts. Consumers then break silently and
    * differently (cur6's pair graph would chain unrelated text
    * classes through the shared id node; per-row oracles would just
    * diverge). Fail loudly at the first offending row instead; a
    * bigger fixture needs the offset (and every oracle's `+ 10000`)
    * raised in one place. */
  private def guardedDupBase(d: DataFrame): DataFrame =
    d.withColumn("doc_id",
      when(col("doc_id") >= DupOffset, raise_error(concat(
        lit(s"planted-dup fixture: doc_id must be < $DupOffset (the copy offset), got "),
        col("doc_id").cast("string")))).otherwise(col("doc_id")))

  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = guardedDupBase(t(s, dir, "documents").select(col("doc_id"), col("text")))
    d.unionByName(d.select((col("doc_id") + DupOffset).as("doc_id"), col("text")))
  }

  /** documents ∪ tail-padded copies of every 10th doc — planted
    * near-duplicates (high but non-1.0 shingle Jaccard). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = guardedDupBase(t(s, dir, "documents").select(col("doc_id"), col("text")))
    val near = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + DupOffset).as("doc_id"),
        concat(col("text"), lit(" graft dedup pad tail")).as("text"))
    d.unionByName(near)
  }

  /** Deterministic CJK corpus for the charLevel dedup gate (dd10): 40
    * duplicate classes × 10 members; members differ only in whitespace
    * the normalizer collapses (leading/trailing runs, a doubled
    * internal space), so char-shingle sets are class-equal. Built from
    * range(), not `documents`: whitespace-variant CJK is exactly what
    * the word-level path cannot see (a CJK text is ONE "word", zero
    * word-shingles), so the fixture must be constructed — and a
    * range-based construction replays verbatim in the DuckDB oracle. */
  private def cjkDocs(s: SparkSession): DataFrame = {
    val cjk = "零一二三四五六七八九"
    val cls = pmod(col("id"), lit(40L))
    val p1 = translate(lpad(cls.cast("string"), 4, "0"), "0123456789", cjk)
    val p2 = translate(lpad((cls * 7 + 1).cast("string"), 4, "0"), "0123456789", cjk)
    val variant = pmod(floor(col("id") / 40).cast("long"), lit(3L))
    val text = when(variant === 1, concat(p1, lit("  "), p2))
      .when(variant === 2, concat(lit("  "), p1, lit(" "), p2, lit(" ")))
      .otherwise(concat(p1, lit(" "), p2))
    s.range(400).select((col("id") + 30000L).as("doc_id"), text.as("text"))
  }

  /** Flagship query on sf=0.001 (TPC-H Q1 shape); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.init(spark)
    queries("q15_tpch_q1")(spark, "/root/testdata/sf0.001")
  }

  /** The cur24/cur24b integration pipeline — the full pretraining-
    * data build over documents. `materialize = false` is the declared
    * ONE-lazy-plan composition gate (cur24); `true` applies the
    * production persist points USAGE documents: every frame consumed
    * by more than one downstream stage (exact-dedup output, near-dedup
    * survivors, decontaminated frame) localCheckpoints once, removing
    * the shared-subtree recompute while keeping rows bit-identical
    * (cur24b shares cur24's oracle). */
  private def pipelineIntegration(s: SparkSession, dir: String,
                                  materialize: Boolean): DataFrame = {
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(true) else df
    // THE integration query: the full pretraining-data build as ONE
    // lazy plan over documents — score (txt3/cur1 kernels) → exact
    // dedup (dd1) → near dedup (dd7's 7-gram Jaccard pairs →
    // clusters → min-id survivors) → decontaminate (txt10's 5-gram
    // containment vs a benchmark set) → temperature mixing (cur3's
    // deterministic per-source downsample) → reproducible split
    // (cur4/cur6 constants). Each stage is individually declared
    // elsewhere; composing them catches cross-operator contract
    // drift (column carrying, null conventions, naming) that no
    // per-operator query can. The fixture plants work for every
    // stage: exact copies (+30000, odd ids), padded near-dups
    // (+10000, every 10th), benchmark splices (+20000, every 20th)
    // — the established dd/txt offsets. Scale shape: scoring is
    // scan-side, exact dedup shuffles fingerprints, the pair graph
    // shuffles shingle digests, decontamination probes a broadcast
    // benchmark, mixing joins a broadcast rate table, and the split
    // is scan-side hashing — text itself crosses an exchange only
    // in the pair-generation stage. Post-dedup, every survivor IS
    // its cluster's min-id representative, so the leakage-safe
    // cluster split degenerates to the per-doc hash with the cur4
    // constants — a whole duplicate class still lands in one split
    // because only its representative remains.
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val b0 = docs.filter(col("doc_id") === 0)
      .select(col("text").as("bench_text"))
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 30000L).as("doc_id"), col("source"),
          col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" graft dedup pad tail")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 20 === 0 && col("doc_id") >= 20)
        .crossJoin(broadcast(b0))
        .select((col("doc_id") + 20000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" "), col("bench_text")).as("text")))
    val scored = corpus
      .withColumn("lang", textfns.langId(col("text")))
      .withColumn("quality", textfns.qualityScore(col("text")))
      .withColumn("n_tokens", textfns.wsTokenCount(col("text")))
      .filter(col("quality") >= 0.5 && col("lang") =!= "und")
    val exs = mat(Dedup.exact(scored, "text", "doc_id"))
    val pairs = Dedup.ngramJaccardPairs(exs, "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val nd = mat(Dedup.dedupNear(exs, "doc_id", pairs))
    val bench = docs.filter(col("doc_id") < 5)
    val flagged = Decontam.contaminated(nd, bench, "doc_id", "text",
        threshold = 0.25, shingleN = 5)
      .select("doc_id")
    val clean = mat(nd.join(flagged, Seq("doc_id"), "left_anti"))
    val counts = clean.groupBy("source").agg(count(lit(1)).as("c"))
    val cmin = counts.agg(min(col("c")).as("m"))
    val rates = counts.crossJoin(broadcast(cmin))
      .withColumn("rate", least(lit(1.0),
        sqrt(col("m").cast("double") / col("c").cast("double"))))
      .select("source", "rate")
    val mixed = clean.join(broadcast(rates), "source")
      .withColumn("__mh",
        ((col("doc_id") % lit(2147483647L)) * lit(1103515245L)
          + lit(12345L)) % lit(2147483647L))
      .filter(col("__mh") < floor(col("rate") * lit(2147483647.0)).cast("long"))
    mixed
      .withColumn("__sh",
        Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
      .withColumn("split",
        when(col("__sh") < lit(1717986917L), lit("train"))
          .when(col("__sh") < lit(1932735282L), lit("valid"))
          .otherwise(lit("test")))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("source").asc, col("split").asc)
  }

  /** One declared query: its name, its build over `(session, sfDir)`,
    * the DuckDB SQL that must reproduce its rows (`None`: only its rows
    * are checked) and whether it is a one-shot streaming gate.
    * The §2 checklist is stored here only: [[queries]], [[oracleSql]]
    * and Bench's batch/streaming split are views of [[declared]]. */
  final case class Declared(name: String,
                            build: (SparkSession, String) => DataFrame,
                            oracle: Option[String],
                            streaming: Boolean = false)

  // ---- oracles two declared queries share ----------------------------

  /** Shared by q04_arrange and q37_arrange_bygroup. */
  private val arrangeOracle =
    """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber
         FROM lineitem
         ORDER BY l_returnflag ASC, l_quantity DESC, l_orderkey, l_linenumber"""

  /** Shared by q27_asof and q38_asof_native. */
  private val asofOracle =
    """WITH e AS (
           SELECT event_id, user_id, event_type,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events)
         SELECT p.event_id, p.user_id, p.ts_ms, c.ts_ms AS last_click_ms
         FROM (SELECT event_id, user_id, ts_ms FROM e WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts_ms FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
         ORDER BY p.event_id"""

  /** Shared by q30_slice_max and q34_topn_agg. */
  private val sliceMaxOracle =
    """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rn <= 3
         ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey"""

  /** Shared by q49_text_ingest and txt1_tokens. */
  private val tokensOracle =
    """SELECT doc_id,
           length(text) AS n_chars_utf,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish_tokens
         FROM documents ORDER BY doc_id"""

  /** Shared by dd9_cross_dedup and dd14_index_dedup. */
  private val crossDedupOracle =
    """WITH words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         ref AS (SELECT doc_id AS rid, s FROM sh WHERE doc_id % 10 = 0),
         inter AS (
           SELECT c.doc_id AS cid, r.rid, count(*) AS n_i
           FROM sh c JOIN ref r ON c.s = r.s
           GROUP BY 1, 2),
         matched AS (
           SELECT DISTINCT cid FROM inter
           JOIN sizes sc ON sc.doc_id = cid
           JOIN sizes sr ON sr.doc_id = rid
           WHERE CAST(n_i AS DOUBLE) / CAST(sc.n_sh + sr.n_sh - n_i AS DOUBLE) >= 1.0)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT cid FROM matched)
         ORDER BY doc_id"""

  /** Shared by txt10_decontam and txt15_decontam_bloom. */
  private val decontamOracle =
    """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT d.doc_id + 20000, d.text || ' ' || b.text
           FROM documents d, (SELECT text FROM documents WHERE doc_id = 0) b
           WHERE d.doc_id % 20 = 0 AND d.doc_id >= 20),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                 FROM words WHERE len(w) >= 5)),
         probe AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
         tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         hit AS (SELECT doc_id, count(*) AS n_hits FROM sh
                 WHERE s IN (SELECT s FROM probe) GROUP BY 1)
         SELECT t.doc_id,
           CAST(t.n_sh AS INTEGER) AS n_sh,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(t.n_sh AS DOUBLE) AS containment
         FROM tot t LEFT JOIN hit h USING (doc_id)
         WHERE CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(t.n_sh AS DOUBLE) >= 0.25
         ORDER BY doc_id"""

  /** Shared by ev1_tumbling and ev5_tumbling_stream. */
  private val tumblingOracle =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Shared by ev7_dedup_stream and ev10_dedup_rocksdb. */
  private val dedupEventsOracle =
    """SELECT event_id, event_type,
           CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
           value
         FROM events ORDER BY event_id"""

  /** Shared by cur24_pipeline and cur24b_pipeline_persisted. */
  // the COMPOSED pipeline oracle: every stage (cur1 scoring, dd1
  // exact dedup, dd7 near-dedup CC, txt10 containment, cur3 mixing,
  // cur6's split hash chain) replayed back to back over the same
  // planted fixture — each fragment is the per-stage oracle
  // verbatim, so a divergence localizes to the stage whose fragment
  // it is
  private val pipelineOracle =
    """WITH RECURSIVE all_docs AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 30000, source, text FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 10000, source, text || ' graft dedup pad tail'
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT d.doc_id + 20000, d.source, d.text || ' ' || b.text
           FROM documents d, (SELECT text FROM documents WHERE doc_id = 0) b
           WHERE d.doc_id % 20 = 0 AND d.doc_id >= 20),
         sc AS (
           SELECT doc_id, source, text,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|une|et|est)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS s_es,
             len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
               + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
               + len(regexp_extract_all(text, '和')) AS s_zh,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct_hits,
             length(text) AS n_chars
           FROM all_docs),
         scored AS (
           SELECT doc_id, source, text, n_tokens,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
               WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
               WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_fr AND s_zh >= s_es AND s_zh > 0 THEN 'zh'
               ELSE 'und' END AS lang,
             least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop_hits AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
               + (1.0 - least(CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) * 10.0, 1.0)) * 0.2 AS quality
           FROM sc),
         f AS (SELECT * FROM scored WHERE quality >= 0.5 AND lang <> 'und'),
         exs AS (
           SELECT * FROM (
             SELECT *, min(doc_id) OVER (
               PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS keep
             FROM f)
           WHERE doc_id = keep),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM exs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         prs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
         reach(id, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
         cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         nd AS (SELECT * FROM exs
                WHERE doc_id NOT IN (SELECT id FROM cc WHERE cluster_id <> id)),
         bw AS (
           SELECT regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents WHERE doc_id < 5),
         bsh AS (
           SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS s
           FROM (SELECT w, unnest(range(1, len(w) - 3)) AS i FROM bw WHERE len(w) >= 5)),
         nw AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM nd),
         d5 AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                 FROM nw WHERE len(w) >= 5)),
         tot5 AS (SELECT doc_id, count(*) AS n_sh5 FROM d5 GROUP BY 1),
         hit5 AS (SELECT doc_id, count(*) AS n_hits FROM d5
                  WHERE s IN (SELECT s FROM bsh) GROUP BY 1),
         contam AS (
           SELECT t.doc_id FROM tot5 t LEFT JOIN hit5 h USING (doc_id)
           WHERE CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(t.n_sh5 AS DOUBLE) >= 0.25),
         clean AS (SELECT * FROM nd
                   WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         counts AS (SELECT source, count(*) AS c FROM clean GROUP BY 1),
         cmin AS (SELECT min(c) AS m FROM counts),
         rates AS (SELECT source,
             least(1.0, sqrt(CAST((SELECT m FROM cmin) AS DOUBLE) / CAST(c AS DOUBLE))) AS rate
           FROM counts),
         mixed AS (
           SELECT cl.doc_id, cl.source, cl.n_tokens, cl.quality
           FROM clean cl JOIN rates r USING (source)
           WHERE ((cl.doc_id % 2147483647) * 1103515245 + 12345) % 2147483647
                 < CAST(floor(r.rate * 2147483647.0) AS BIGINT)),
         ha AS (SELECT *, xor(doc_id, (doc_id >> 32) + 11213) AS t0 FROM mixed),
         hb AS (SELECT *, ((t0 % 2147483647) * 48271 + 11213) % 2147483647 AS t1 FROM ha),
         hc AS (SELECT *, (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1 FROM hb),
         hh AS (SELECT *, (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS hv FROM hc)
         SELECT source,
           CASE WHEN hv < 1717986917 THEN 'train'
                WHEN hv < 1932735282 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality
         FROM hh GROUP BY 1, 2 ORDER BY 1, 2"""

  /** One record per implemented operator from SURVEY.md §2.
    *
    * Rows-only queries (`oracle = None`) are the hash-, LSH- and
    * seed-dependent ones: ann2_lsh_topk, ann3_ivf, ann4_pq, ann5_ivfpq,
    * ann6_recall, ann7_pq_hi, ann9_ivfpq_index, ann13_pca_recall,
    * cur8_embed_outliers, dd2_minhash_lsh, dd3_simhash, dd5_embed_dup,
    * dd11_lsh_recall, dd13_semantic_dedup, mm3_perceptual_dedup,
    * mm4_audio_dedup, mm5_video_dedup, q28_approx, q28b_sketch_error
    * and txt17_bpe. Planted-duplicate and measured-floor ScalaTest specs
    * pin their correctness instead, and dd11/ann6/q28b put the measured
    * quality numbers themselves in the correctness dump.
    */
  val declared: Seq[Declared] = Seq(

    // ---- §2.1 core cuplyr surface ---------------------------------------

    Declared("q01_filter", (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30, col("l_discount") <= 0.02,
          col("l_linenumber") =!= 3, col("l_tax") > col("l_discount"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
        // sort by every output column so the order is total up to
        // identical rows (which hash the same in any order).
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"),
          asc("l_discount"), asc("l_tax"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount <= 0.02 AND l_linenumber <> 3
           AND l_tax > l_discount
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax""")),

    Declared("q02_select", (s, dir) =>
      g(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_custkey")
        .arrange(asc("o_orderkey"))
        .df,
      Some("SELECT o_orderkey, o_totalprice, o_custkey FROM orders ORDER BY o_orderkey")),

    Declared("q03_mutate", (s, dir) =>
      g(s, dir, "lineitem")
        .mutate(
          "revenue" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "charged" -> col("revenue") * (lit(1.0) + col("l_tax")),
          "qty_sq" -> col("l_quantity") * col("l_quantity"))
        .select("l_orderkey", "l_linenumber", "revenue", "charged", "qty_sq")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("revenue"),
          asc("charged"), asc("qty_sq"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS revenue,
           (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charged,
           l_quantity * l_quantity AS qty_sq
         FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charged, qty_sq""")),

    Declared("q04_arrange", (s, dir) =>
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .arrange(asc("l_returnflag"), desc("l_quantity"),
          asc("l_orderkey"), asc("l_linenumber"))
        .df,
      Some(arrangeOracle)),

    Declared("q37_arrange_bygroup", (s, dir) =>
      // arrange(.by_group = TRUE): group cols prepend to the sort spec
      // (reference R/arrange.R). Unique trailing keys make the total
      // order deterministic for the oracle hash.
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .groupBy("l_returnflag")
        .arrangeByGroup(desc("l_quantity"), asc("l_orderkey"),
          asc("l_linenumber"))
        .df,
      Some(arrangeOracle)),

    Declared("q05_groupby_agg", (s, dir) =>
      g(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .summarise(
          "sum_qty" -> sum(col("l_quantity")),
          "n" -> count(lit(1)),
          "avg_price" -> round(avg(col("l_extendedprice")), 4),
          "min_disc" -> min(col("l_discount")),
          "max_disc" -> max(col("l_discount")))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n,
           round(avg(l_extendedprice), 4) AS avg_price,
           min(l_discount) AS min_disc,
           max(l_discount) AS max_disc
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q06_summarise_stats", (s, dir) =>
      g(s, dir, "customer")
        .groupBy("c_mktsegment")
        .summarise(
          "n" -> count(lit(1)),
          "mean_bal" -> round(avg(col("c_acctbal")), 4),
          "sd_bal" -> round(stddev_samp(col("c_acctbal")), 2),
          "var_bal" -> round(var_samp(col("c_acctbal")), 0),
          "min_bal" -> min(col("c_acctbal")),
          "max_bal" -> max(col("c_acctbal")))
        .arrange(asc("c_mktsegment"))
        .df,
      Some("""SELECT c_mktsegment,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS mean_bal,
           round(stddev_samp(c_acctbal), 2) AS sd_bal,
           round(var_samp(c_acctbal), 0) AS var_bal,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
         FROM customer GROUP BY 1 ORDER BY 1""")),

    Declared("q07_inner_join", (s, dir) =>
      g(s, dir, "orders")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .arrange(asc("o_orderkey"))
        .df,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")),

    Declared("q08_left_join", (s, dir) =>
      g(s, dir, "lineitem")
        .join(g(s, dir, "part").filter(col("p_size") > 25),
          Seq("l_partkey" -> "p_partkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_partkey", "p_name", "p_size")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("l_partkey"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, p_name, p_size
         FROM lineitem LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
           ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber, l_partkey""")),

    Declared("q09_right_join", (s, dir) =>
      g(s, dir, "customer")
        .join(g(s, dir, "nation"), Seq("c_nationkey" -> "n_nationkey"), "right")
        .select("c_nationkey", "c_name", "n_name")
        .arrange(asc("n_name"), asc("c_name"))
        .df,
      Some("""SELECT c_nationkey, c_name, n_name
         FROM (SELECT n_nationkey AS c_nationkey, n_name FROM nation) n
         LEFT JOIN customer USING (c_nationkey)
         ORDER BY n_name ASC, c_name ASC NULLS LAST""")),

    Declared("q10_full_join", (s, dir) => {
      val demand = g(s, dir, "lineitem")
        .groupBy("l_partkey")
        .summarise("demand" -> sum(col("l_quantity")))
        .filter(col("demand") > 100)
      val smallParts = g(s, dir, "part").filter(col("p_size") <= 10)
        .select("p_partkey", "p_name")
      demand.join(smallParts, Seq("l_partkey" -> "p_partkey"), "full")
        .arrange(asc("l_partkey"))
        .df
    },
      Some("""WITH demand AS (
           SELECT l_partkey, sum(l_quantity) AS demand
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 100),
         sp AS (SELECT p_partkey, p_name FROM part WHERE p_size <= 10)
         SELECT coalesce(l_partkey, p_partkey) AS l_partkey, demand, p_name
         FROM demand FULL JOIN sp ON l_partkey = p_partkey
         ORDER BY 1 ASC NULLS LAST""")),

    Declared("q11_bind_rows", (s, dir) => {
      val f = g(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val o = g(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice")
      f.bindRows(o).arrange(asc("o_orderkey")).df
    },
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_totalprice, NULL
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_orderkey""")),

    Declared("q12_bind_cols", (s, dir) => {
      val a = g(s, dir, "nation").arrange(asc("n_nationkey"))
        .select("n_nationkey", "n_name")
      val b = g(s, dir, "nation").arrange(desc("n_nationkey"))
        .selectExpr2("rk" -> col("n_regionkey"))
      a.bindCols(b).arrange(asc("n_nationkey")).df
    },
      Some("""SELECT a.n_nationkey, a.n_name, b.rk
         FROM (SELECT n_nationkey, n_name,
                 row_number() OVER (ORDER BY n_nationkey ASC) AS rn FROM nation) a
         JOIN (SELECT n_regionkey AS rk,
                 row_number() OVER (ORDER BY n_nationkey DESC) AS rn FROM nation) b
           USING (rn)
         ORDER BY a.n_nationkey""")),

    Declared("q13_head", (s, dir) =>
      g(s, dir, "orders")
        .arrange(desc("o_totalprice"), asc("o_orderkey"))
        .headN(10)
        .select("o_orderkey", "o_totalprice")
        .df,
      Some("""SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    Declared("q14_distinct", (s, dir) =>
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct_()
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2""")),

    // ---- §2.2 composite analytics ---------------------------------------

    Declared("q15_tpch_q1", (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .mutate(
          "disc_price" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "charge" -> col("disc_price") * (lit(1.0) + col("l_tax")))
        .groupBy("l_returnflag", "l_linestatus")
        .summarise(
          "sum_qty" -> sum(col("l_quantity")),
          "sum_base_price" -> round(sum(col("l_extendedprice")), 2),
          "sum_disc_price" -> round(sum(col("disc_price")), 2),
          "sum_charge" -> round(sum(col("charge")), 2),
          "avg_qty" -> round(avg(col("l_quantity")), 4),
          "avg_price" -> round(avg(col("l_extendedprice")), 4),
          "avg_disc" -> round(avg(col("l_discount")), 4),
          "count_order" -> count(lit(1)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           round(sum((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q16_tpch_q3", (s, dir) => {
      val cust = g(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val li = g(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
        .mutate("rev" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      li.join(ord, Seq("l_orderkey" -> "o_orderkey"), "inner")
        .join(cust, Seq("o_custkey" -> "c_custkey"), "inner")
        .mutate("o_orderdate_ms" -> unix_millis(col("o_orderdate").cast("timestamp")))
        .groupBy("l_orderkey", "o_orderdate_ms", "o_orderpriority")
        .summarise("revenue" -> round(sum(col("rev")), 2))
        .arrange(desc("revenue"), asc("l_orderkey"))
        .headN(10)
        .df
    },
      Some("""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    Declared("q17_tpch_q5", (s, dir) => {
      // 6-way star join; dimensions broadcast (region/nation tiny).
      val li = g(s, dir, "lineitem")
        .mutate("rev" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      val joined = li
        .join(g(s, dir, "orders"), Seq("l_orderkey" -> "o_orderkey"), "inner")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .join(g(s, dir, "supplier"), Seq("l_suppkey" -> "s_suppkey"), "inner")
        .filter(col("s_nationkey") === col("c_nationkey"))
        .join(GraftFrame(broadcast(t(s, dir, "nation"))),
          Seq("c_nationkey" -> "n_nationkey"), "inner")
        .join(GraftFrame(broadcast(t(s, dir, "region"))),
          Seq("n_regionkey" -> "r_regionkey"), "inner")
      joined
        .groupBy("r_name", "n_name")
        .summarise("revenue" -> round(sum(col("rev")), 2), "n_items" -> count(lit(1)))
        .arrange(asc("r_name"), asc("n_name"))
        .df
    },
      Some("""SELECT r_name, n_name,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q18_window", (s, dir) =>
      GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("user_id", "event_id", "ts_ms", "rn", "running_value")
        .arrange(asc("user_id"), asc("rn"))
        .df,
      Some("""SELECT user_id, event_id, ts_ms,
           CAST(row_number() OVER w AS INT) AS rn,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS UNBOUNDED PRECEDING), 4) AS running_value
         FROM (SELECT user_id, event_id, value,
                 epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         ORDER BY user_id, rn""")),

    Declared("q53_window2", (s, dir) => {
      // the full analytic-window family in one declared query:
      // lag/lead (offset), ntile (equi-depth bucketing),
      // percent_rank/cume_dist (relative position), first/last value
      // over a running frame — one window spec, one exchange, no
      // spill risk (per-user partitions). Ties broken by o_orderkey
      // so both engines agree on the total order.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g(s, dir, "orders").df
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("first_price", first(col("o_totalprice")).over(run))
        .orderBy(col("o_custkey").asc, col("o_totalprice").asc,
          col("o_orderkey").asc)
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_custkey, o_totalprice, o_orderkey""")),

    Declared("q19_semi_anti", (s, dir) => {
      val bigOrders = g(s, dir, "orders").filter(col("o_totalprice") > 3000.0)
      val cust = g(s, dir, "customer")
      val has = cust.semiJoin(bigOrders.selectExpr2("c_custkey" -> col("o_custkey")), Seq("c_custkey"))
        .mutate("tag" -> lit("has"))
      val none = cust.antiJoin(bigOrders.selectExpr2("c_custkey" -> col("o_custkey")), Seq("c_custkey"))
        .mutate("tag" -> lit("none"))
      has.bindRows(none).select("c_custkey", "c_name", "tag")
        .arrange(asc("c_custkey")).df
    },
      Some("""SELECT c_custkey, c_name, 'has' AS tag FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 3000.0)
         UNION ALL
         SELECT c_custkey, c_name, 'none' AS tag FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 3000.0)
         ORDER BY c_custkey""")),

    Declared("q20_quantiles", (s, dir) =>
      // exact grouped quantiles through the bounded-state rank path
      // (Quantile.exactGrouped): one exchange + spillable window, never
      // a whole group in one aggregation buffer — interpolation is
      // bit-identical to the `percentile` built-in the DuckDB oracle
      // already matched
      graft.operators.Quantile.exactGrouped(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .orderBy(col("l_returnflag").asc),
      Some("""SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

    Declared("q21_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(1, 2)
         ORDER BY 1 NULLS LAST, 2 NULLS LAST""")),

    Declared("q41_cube", (s, dir) =>
      // full grouping-set lattice (cube): every (flag, status) subtotal
      // combination — one Expand + one aggregate, like rollup
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE(1, 2)
         ORDER BY 1 NULLS LAST, 2 NULLS LAST""")),

    Declared("q22_pivot", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate").cast("timestamp")))
        .groupBy("y")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy(col("y").asc),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS y,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
         FROM orders GROUP BY 1 ORDER BY 1""")),

    Declared("q23_strings", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        regexp_replace(col("p_name"), "a", "@").as("name_sub"),
        instr(col("p_name"), "gizmo").as("gizmo_at"),
        levenshtein(col("p_brand"), lit("brand#1")).as("brand_dist"))
        .orderBy(col("p_partkey").asc),
      Some("""SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_name, 1, 5) AS name_pfx,
           regexp_replace(p_name, 'a', '@', 'g') AS name_sub,
           CAST(instr(p_name, 'gizmo') AS INT) AS gizmo_at,
           CAST(levenshtein(p_brand, 'brand#1') AS INT) AS brand_dist
         FROM part ORDER BY p_partkey""")),

    Declared("q24_dates", (s, dir) => {
      val od = col("o_orderdate").cast("date")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(od).as("y"),
        month(od).as("m"),
        dayofmonth(od).as("d"),
        quarter(od).as("q"),
        dayofweek(od).as("dow_sun1"),
        datediff(od, lit("1970-01-01").cast("date")).as("epoch_days"),
        month(date_add(od, 30)).as("month_plus30"))
        .orderBy(col("o_orderkey").asc)
    },
      Some("""SELECT o_orderkey,
           CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y,
           CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m,
           CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS d,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow_sun1,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS epoch_days,
           CAST(month(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS INT) AS month_plus30
         FROM orders ORDER BY o_orderkey""")),

    Declared("q25_case", (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 1000, "low")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("tier"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg2"),
        (col("c_acctbal") > 0 && col("c_nationkey") < 10).as("flag"))
        .orderBy(col("c_custkey").asc),
      Some("""SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg2,
           (c_acctbal > 0 AND c_nationkey < 10) AS flag
         FROM customer ORDER BY c_custkey""")),

    Declared("q26_setops", (s, dir) => {
      val managed = t(s, dir, "nation").select(col("n_regionkey").as("k"))
      val regions = t(s, dir, "region").select(col("r_regionkey").as("k"))
      val both = managed.intersect(regions).withColumn("op", lit("both"))
      val extra = regions.exceptAll(managed.distinct()).withColumn("op", lit("region_only"))
      both.unionByName(extra).orderBy(col("op").asc, col("k").asc)
    },
      Some("""SELECT k, 'both' AS op FROM
           (SELECT n_regionkey AS k FROM nation INTERSECT SELECT r_regionkey FROM region)
         UNION ALL
         SELECT k, 'region_only' AS op FROM
           (SELECT r_regionkey AS k FROM region
            EXCEPT ALL SELECT DISTINCT n_regionkey FROM nation)
         ORDER BY op, k""")),

    Declared("q27_asof", (s, dir) => {
      val ev = GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("event_id", "user_id", "ts_ms", "event_type").df
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_ms")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts_ms")
      graft.operators.AsofJoin.asofBackward(purchases, clicks,
          keyCol = "user_id", leftTime = "ts_ms", rightTime = "ts_ms",
          valueCols = Seq("ts_ms" -> "last_click_ms"))
        .orderBy(col("event_id").asc)
    },
      Some(asofOracle)),

    Declared("q39_nest_unnest", (s, dir) =>
      // tidyr nest → unnest round trip: grouped rows collapse to one
      // array-of-struct row per group and explode back losslessly —
      // the oracle is simply the original projection
      g(s, dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .nest("data", Seq("c_custkey", "c_acctbal"))
        .unnest("data")
        .arrange(asc("c_mktsegment"), asc("c_custkey"))
        .df,
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal
         FROM customer ORDER BY c_mktsegment, c_custkey""")),

    Declared("q40_complete", (s, dir) =>
      // tidyr complete: the (returnflag × linestatus) grid over
      // grouped counts — combinations absent from the data appear
      // with n = 0
      GraftFrame(
        g(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .summarise("n" -> count(lit(1))).df)
        .complete(Seq("l_returnflag", "l_linestatus"),
          fill = Map("n" -> lit(0L)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""WITH counts AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n
           FROM lineitem GROUP BY 1, 2),
         grid AS (
           SELECT f.l_returnflag, s.l_linestatus
           FROM (SELECT DISTINCT l_returnflag FROM lineitem) f,
                (SELECT DISTINCT l_linestatus FROM lineitem) s)
         SELECT g.l_returnflag, g.l_linestatus,
           coalesce(c.n, 0) AS n
         FROM grid g LEFT JOIN counts c USING (l_returnflag, l_linestatus)
         ORDER BY l_returnflag, l_linestatus""")),

    Declared("q42_complete_grouped", (s, dir) =>
      // tidyr GROUPED complete: with the frame grouped by returnflag,
      // the (linestatus × shipmode) grid is built WITHIN each group
      // from that group's own observed values — q40's ungrouped twin
      // builds one global grid
      GraftFrame(t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            month(col("l_shipdate")).as("ship_month")))
        .groupBy("l_returnflag", "l_linestatus", "ship_month")
        .summarise("n" -> count(lit(1)))
        .groupBy("l_returnflag")
        .complete(Seq("l_linestatus", "ship_month"),
          fill = Map("n" -> lit(0L)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"), asc("ship_month"))
        .df,
      Some("""WITH base AS (
           SELECT l_returnflag, l_linestatus,
             CAST(month(l_shipdate) AS INTEGER) AS ship_month
           FROM lineitem),
         counts AS (
           SELECT l_returnflag, l_linestatus, ship_month, count(*) AS n
           FROM base GROUP BY 1, 2, 3),
         grid AS (
           SELECT s.l_returnflag, s.l_linestatus, m.ship_month
           FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM base) s
           JOIN (SELECT DISTINCT l_returnflag, ship_month FROM base) m
             USING (l_returnflag))
         SELECT g.l_returnflag, g.l_linestatus, g.ship_month,
           coalesce(c.n, 0) AS n
         FROM grid g
         LEFT JOIN counts c USING (l_returnflag, l_linestatus, ship_month)
         ORDER BY l_returnflag, l_linestatus, ship_month""")),

    Declared("q43_skew_agg", (s, dir) =>
      // q05's aggregate through the SALTED two-phase path — the
      // mitigation for single-key aggregation skew AQE cannot split
      // (one hot key still lands on one reducer). The deterministic
      // row salt spreads each key over `salts` partial reducers; the
      // final phase merges `salts` rows per key. Same oracle as the
      // plain groupBy: the salted plan is an algebraic identity, and
      // sum(l_quantity) is exact (integer-valued doubles), so the
      // result is bit-equal to the direct aggregation. Plan shape
      // (exactly two hash exchanges) is spec-asserted.
      graft.operators.Skew.saltedSummarise(
          t(s, dir, "lineitem")
            .select("l_returnflag", "l_linestatus", "l_quantity", "l_discount"),
          keys = Seq("l_returnflag", "l_linestatus"), salts = 32,
          ("sum_qty", "l_quantity", "sum"),
          ("n", "l_quantity", "count"),
          ("min_disc", "l_discount", "min"),
          ("max_disc", "l_discount", "max"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(l_quantity) AS n,
           min(l_discount) AS min_disc,
           max(l_discount) AS max_disc
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q44_skew_join", (s, dir) => {
      // lineitem ⋈ orders through the split-route skew join: keys the
      // deterministic sample classifies as hot take a broadcast of the
      // right side's matching slice, the tail takes the ordinary
      // shuffle join, one union at the end — the mitigation for the
      // case AQE's skew-join can't fix (the right side still shuffles
      // under AQE). Oracle-safe BY CONSTRUCTION, not by seed: hot and
      // tail paths PARTITION the left rows, so the union equals the
      // plain inner join no matter which keys the sample flags —
      // classification moves rows between physical strategies, never
      // in or out of the result.
      //
      // hotThreshold = 40: at 5% sampling the hot cutoff is two
      // sampled occurrences, so ~4% of orderkeys (≤7 lineitems each,
      // P[Binom(7, .05) ≥ 2] ≈ 0.044) classify hot — BOTH routes carry
      // real rows (SourcesSpec asserts both routes' runtime row counts
      // are nonzero) while the broadcast slice stays a few percent of
      // the right side, unlike a cutoff of one sampled hit, which
      // would flag ~30% of keys and broadcast a third of the table.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
          col("o_totalprice"))
      graft.operators.Skew.skewAwareJoin(li, ord, "l_orderkey",
          hotThreshold = 40)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
    },
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           o.o_custkey, o.o_totalprice
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         ORDER BY l.l_orderkey, l.l_linenumber""")),

    Declared("q45_bucketed_join", (s, dir) => {
      // co-located join gate: both sides written bucketed on the join
      // key (Tables.writeBucketed), read back, sort-merge joined and
      // aggregated on the bucket key — at scale this is the
      // pre-partitioning that removes the per-query shuffle of a
      // repeatedly-joined fact table entirely (SourcesSpec asserts the
      // exchange-free plan; the declared query gates row correctness
      // against the plain-parquet oracle). The bucketed write runs
      // once per (JVM, sf dir) — it is setup, like the parquet scan's
      // existence, not part of the measured join.
      ensureBucketedTables(s, dir)
      s.table(Q45LineitemTable).hint("merge")
        .join(s.table(Q45OrdersTable), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          max(col("o_totalprice")).as("price"))
        .orderBy(col("l_orderkey").asc)
    },
      Some("""SELECT l.l_orderkey,
           sum(l.l_quantity) AS sum_qty,
           count(*) AS n,
           max(o.o_totalprice) AS price
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY 1""")),

    Declared("q47_epoch_shuffle", (s, dir) =>
      // deterministic epoch-stable corpus shuffle — the data-order
      // primitive of a pretraining pipeline: a different but exactly
      // reproducible permutation per epoch, independent of partition
      // layout and executor count (ORDER BY rand(seed) is neither).
      // Cost = ONE range exchange, the same shape as any sorted write.
      // Epoch 3's permutation, key exposed so the oracle checks the
      // hash values bit-for-bit, not just the ordering.
      graft.operators.Shuffle.epochShuffle(
        t(s, dir, "documents").select(col("doc_id"),
          graft.operators.Shuffle.shuffleKey(col("doc_id"), 3)
            .as("shuffle_key")),
        "doc_id", 3),
      Some("""WITH a AS (
           SELECT doc_id,
             xor(doc_id, (doc_id >> 32) + 344198) AS t0
           FROM documents),
         b AS (
           SELECT doc_id,
             ((t0 % 2147483647) * 69621 + 344198) % 2147483647 AS t1
           FROM a),
         c AS (
           SELECT doc_id,
             (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1
           FROM b)
         SELECT doc_id,
           (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS shuffle_key
         FROM c
         ORDER BY shuffle_key, doc_id""")),

    Declared("q46_orc_roundtrip", (s, dir) => {
      // ORC round-trip gate: lineitem written as ORC (once per JVM/sf
      // dir — setup, not the measured read), read back through the ORC
      // source with the filter pushed to the scan (SourcesSpec asserts
      // ORC PushedFilters), aggregated. Oracle replays the same
      // pipeline from the original parquet — values must survive the
      // typed round-trip bit-exactly.
      graft.sources.Tables.orc(s, ensureOrcWritten(s, dir))
        .filter(col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc)
    },
      Some("""SELECT l_returnflag,
           sum(l_quantity) AS sum_qty,
           count(*) AS n
         FROM lineitem WHERE l_quantity >= 30
         GROUP BY 1 ORDER BY 1""")),

    Declared("q48_partitioned_prune", (s, dir) => {
      // Hive-partitioned parquet gate: lineitem written partitionBy
      // l_returnflag (setup, once per JVM/sf dir), read back with a
      // partition-column filter — Spark prunes whole directories at
      // LISTING time (PartitionFilters in the scan node; SourcesSpec
      // asserts the pruned partition count), so only ~1/3 of the data
      // is ever opened. The 100 TB pattern for time/category-
      // partitioned corpora. Oracle replays from the original parquet:
      // values must survive the partitioned round-trip exactly
      // (sum(l_quantity) is integer-valued; min/max are order-free).
      s.read.parquet(ensurePartitionedWritten(s, dir))
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_linestatus").asc)
    },
      Some("""SELECT l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
         FROM lineitem WHERE l_returnflag = 'R'
         GROUP BY 1 ORDER BY 1""")),

    Declared("q49_text_ingest", (s, dir) => {
      // Raw-text ingestion gate: documents written one-per-line as
      // `doc_id \t text` (setup), read back through the line-oriented
      // text() source, split on the FIRST tab, and fed into the txt1
      // token-statistics pipeline — the standard raw-corpus entry
      // path. Oracle = txt1's replay from the parquet table: the text
      // must survive the round-trip byte-for-byte.
      val lines = graft.sources.Tables.text(s, ensureTextWritten(s, dir))
      val tabAt = instr(col("value"), "\t")
      val parsed = lines.select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        col("value").substr(tabAt + 1, length(col("value"))).as("text"))
      parsed.select(
          col("doc_id"),
          length(col("text")).as("n_chars_utf"),
          textfns.wsTokenCount(col("text")).as("n_ws_tokens"),
          textfns.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
        .orderBy(col("doc_id").asc)
    },
      Some(tokensOracle)),

    Declared("q38_asof_native", (s, dir) => {
      // q27's as-of join on the NATIVE sorted-merge physical operator
      // (AsofJoinExec via SparkSessionExtensions) — same oracle; the
      // spec additionally pins native == composed row-for-row
      val ev = GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("event_id", "user_id", "ts_ms", "event_type").df
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_ms")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts_ms")
      graft.operators.AsofJoin.asofBackwardNative(purchases, clicks,
          keyCol = "user_id", leftTime = "ts_ms", rightTime = "ts_ms",
          valueCols = Seq("ts_ms" -> "last_click_ms"))
        .orderBy(col("event_id").asc)
    },
      Some(asofOracle)),

    Declared("q30_slice_max", (s, dir) =>
      // top-3 orders per market segment by total price — grouped
      // slice_max (one shuffle on the group key, windowed rank)
      g(s, dir, "orders")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .groupBy("c_mktsegment")
        .sliceMax(col("o_totalprice"), 3, col("o_orderkey"))
        .arrange(asc("c_mktsegment"), desc("o_totalprice"), asc("o_orderkey"))
        .df,
      Some(sliceMaxOracle)),

    Declared("q35_grouped_mutate", (s, dir) =>
      // dplyr grouped mutate: per-segment totals joined back to rows;
      // one shuffle on the group key, aggregates share the window
      g(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .mutateGrouped(
          "seg_total" -> round(sum(col("c_acctbal")), 2),
          "seg_n" -> count(lit(1)))
        .ungroup
        .mutate("bal_share" -> col("c_acctbal") / col("seg_total"))
        .arrange(asc("c_custkey"))
        .df,
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
           round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2) AS seg_total,
           count(*) OVER (PARTITION BY c_mktsegment) AS seg_n,
           c_acctbal / round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2) AS bal_share
         FROM customer ORDER BY c_custkey""")),

    Declared("q36_fill", (s, dir) =>
      // tidyr fill(.direction="down"): clicks have no value — carry the
      // last non-click value forward per user in event-time order
      GraftFrame(t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            when(col("event_type") === "click", lit(null))
              .otherwise(col("value")).as("v")))
        .groupBy("user_id")
        .fillDown(Seq(col("ts"), col("event_id")), "v")
        .select("user_id", "event_id", "v")
        .arrange(asc("event_id"), asc("user_id"), asc("v"))
        .df,
      Some("""SELECT user_id, event_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id, user_id, v""")),

    Declared("q50_global_fill", (s, dir) =>
      // tidyr fill with NO grouping — the global carry-forward path:
      // range-partition by the order key, carry forward within each
      // partition, then stitch partition boundaries with a broadcast
      // of per-partition last-non-null carries (one range exchange +
      // one partition-count-sized broadcast; a single global Window
      // would serialize the corpus through ONE task at 100 TB). q36
      // gates the grouped branch; this gates the boundary-carry logic
      // against the same IGNORE NULLS window oracle, unpartitioned.
      GraftFrame(t(s, dir, "events")
          .select(col("event_id"), col("ts"),
            when(col("event_type") === "click", lit(null))
              .otherwise(col("value")).as("v")))
        .fillDown(Seq(col("ts"), col("event_id")), "v")
        .select("event_id", "v")
        .arrange(asc("event_id"), asc("v"))
        .df,
      Some("""SELECT event_id,
           last_value(v IGNORE NULLS) OVER (
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         FROM (SELECT event_id, ts,
                 CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id, v""")),

    Declared("q34_topn_agg", (s, dir) =>
      // same result contract as q30, different physical path: the
      // BoundedTopK partial aggregate shuffles ≤3 rows per (task,
      // segment) instead of window-sorting every joined row
      g(s, dir, "orders")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .groupBy("c_mktsegment")
        .sliceMaxAgg(col("o_totalprice"), 3, col("o_orderkey"))
        .arrange(asc("c_mktsegment"), desc("o_totalprice"), asc("o_orderkey"))
        .df,
      Some(sliceMaxOracle)),

    Declared("q31_pivot_longer", (s, dir) =>
      // tidyr pivot_longer: Catalyst Expand — one scan, zero shuffle,
      // rows × 3 output
      g(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .mutate(
          "l_quantity" -> col("l_quantity").cast("double"),
          "l_extendedprice" -> col("l_extendedprice").cast("double"),
          "l_discount" -> col("l_discount").cast("double"))
        .pivotLonger(Seq("l_quantity", "l_extendedprice", "l_discount"),
          namesTo = "metric", valuesTo = "value")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("metric"),
          asc("value"))
        .df,
      Some("""WITH longf AS (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             CAST(l_quantity AS DOUBLE) AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount',
             CAST(l_discount AS DOUBLE) FROM lineitem)
         SELECT l_orderkey, l_linenumber, metric, value FROM longf
         ORDER BY l_orderkey, l_linenumber, metric, value""")),

    Declared("q32_count", (s, dir) =>
      g(s, dir, "events")
        .countBy(Seq("event_type"), sort = true)
        .df,
      Some("""SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type""")),

    Declared("q33_separate_unite", (s, dir) =>
      g(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .separate("c_name", Seq("cust_label", "cust_num"), "#")
        .unite("seg_label", Seq("c_mktsegment", "cust_label"), "/")
        .arrange(asc("c_custkey"))
        .df,
      Some("""SELECT c_custkey,
           concat_ws('/', coalesce(c_mktsegment, 'NA'),
             coalesce(split_part(c_name, '#', 1), 'NA')) AS seg_label,
           split_part(c_name, '#', 2) AS cust_num
         FROM customer ORDER BY c_custkey""")),

    Declared("q29_range_join", (s, dir) => {
      val points = GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("event_id", "value").df
      val intervals = t(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("lo"),
          (col("p_size").cast("double") + 2.5).as("hi"))
      graft.operators.RangeJoin.pointInInterval(points, intervals,
          "value", "lo", "hi", bucketWidth = 2.5)
        .select("event_id", "p_partkey", "value", "lo", "hi")
        .orderBy(col("event_id").asc, col("p_partkey").asc)
    },
      Some("""WITH iv AS (
           SELECT p_partkey, CAST(p_size AS DOUBLE) AS lo,
             CAST(p_size AS DOUBLE) + 2.5 AS hi
           FROM part WHERE p_partkey < 100)
         SELECT event_id, p_partkey, value, lo, hi
         FROM events JOIN iv ON value >= lo AND value <= hi
         ORDER BY event_id, p_partkey""")),

    // sketch aggregates for 100 TB profiling — rows-only (HLL/KLL
    // estimates are engine-specific by construction)
    Declared("q28_approx", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(100)).as("p99_price"))
        .orderBy(col("l_returnflag").asc),
      None),

    Declared("q28b_sketch_error", (s, dir) => {
      // MEASURED estimator-quality gate for q28's sketches — the q28
      // analogue of ann6_recall: the same HLL / approximate-percentile
      // aggregates computed next to their exact twins, emitting
      // relative error per group so the sketch quality number lands in
      // the driver's correctness dump each round. Rows-only because
      // HLL values are engine-specific (hash-seeded); ApproxGateSpec
      // pins the error ceilings (HLL default rsd 0.05; rsd=0.02
      // variant; percentile at accuracy=100).
      //
      // Shape: FOUR independent two-phase aggregates joined on the
      // 3-row group key — NOT one aggregate. Two countDistincts in one
      // aggregate make Spark Expand the input once per distinct clause
      // (3x the rows), and the exact percentile then buffers values
      // through that expanded stream: measured 29 s vs ~2 s split.
      // Splitting is also the 100 TB shape — each exact distinct is a
      // partial-combining (group, key) dedup, never an Expand.
      //
      // Every exact twin is scale-true: the distinct-counts are
      // partial-combining dedups, and the exact p99 runs through
      // Quantile.exactGrouped — one exchange + spillable window with
      // bounded per-row state, never a whole group in one aggregation
      // buffer — so this harness (unlike a `percentile`-based twin)
      // could itself run at corpus scale.
      val li = t(s, dir, "lineitem")
      val approx = li.groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("__ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("__ao"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(100)).as("__aq"))
      val exactParts = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("__ep"))
      val exactOrders = li.select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("__eo"))
      val exactP99 = graft.operators.Quantile.exactGrouped(
        li, Seq("l_returnflag"), "l_extendedprice", Seq("__eq" -> 0.99))
      approx
        .join(exactParts, "l_returnflag")
        .join(exactOrders, "l_returnflag")
        .join(exactP99, "l_returnflag")
        .select(col("l_returnflag"),
          round(abs(col("__ap") - col("__ep")) / col("__ep"), 4).as("hll_parts_relerr"),
          round(abs(col("__ao") - col("__eo")) / col("__eo"), 4).as("hll_orders_relerr"),
          round(abs(col("__aq") - col("__eq")) / col("__eq"), 4).as("p99_relerr"))
        .orderBy(col("l_returnflag").asc)
    },
      None),

    // ---- §2.3 LLM-data-pipeline operators -------------------------------

    Declared("dd1_exact", (s, dir) =>
      Dedup.exact(docsWithExactDups(s, dir), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id").asc),
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents)
         SELECT min(doc_id) AS doc_id FROM all_docs
         GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
         ORDER BY doc_id""")),

    Declared("dd2_minhash_lsh", (s, dir) =>
      Dedup.minHashLshPairs(docsWithNearDups(s, dir), "doc_id", "text",
          shingleN = 3, k = 128, bands = 32, threshold = 0.5)
        .orderBy(col("id_a").asc, col("id_b").asc),
      None),

    Declared("dd3_simhash", (s, dir) =>
      // same-vocabulary docs legitimately cluster in simhash space;
      // the per-bucket cap bounds the quadratic candidate blowup
      // (documented recall tradeoff in Dedup.boundedPairs)
      Dedup.simHashPairs(docsWithNearDups(s, dir), "doc_id", "text",
          shingleN = 3, maxHamming = 3, bucketCap = 300)
        .orderBy(col("id_a").asc, col("id_b").asc),
      None),

    Declared("dd4_ngram_jaccard", (s, dir) =>
      // 7-gram shingles: the synthetic vocabulary is ~30 words, so
      // 5-grams collide across unrelated docs at a quadratic rate
      // (millions of accidental shared-shingle pairs at sf0.1);
      // 7-grams keep the exact-join audit path near-linear.
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
          shingleN = 7, threshold = 0.5)
        .orderBy(col("id_a").asc, col("id_b").asc),
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' graft dedup pad tail'
           FROM documents WHERE doc_id % 10 = 0),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
         ORDER BY id_a, id_b""")),

    Declared("dd6_components", (s, dir) =>
      Dedup.duplicateClusters(
          Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
            shingleN = 7, threshold = 0.5))
        .orderBy(col("id").asc),
      Some("""WITH RECURSIVE all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' graft dedup pad tail'
           FROM documents WHERE doc_id % 10 = 0),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id)
         SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id ORDER BY id""")),

    Declared("dd7_dedup_near", (s, dir) => {
      // end-to-end near-dedup: survivors = min-id member per cluster +
      // all unclustered docs; corpus text never shuffles (anti-join on id)
      val docs = docsWithNearDups(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 7, threshold = 0.5)
      Dedup.dedupNear(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      Some("""WITH RECURSIVE all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' graft dedup pad tail'
           FROM documents WHERE doc_id % 10 = 0),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
         cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT doc_id FROM all_docs
         WHERE doc_id NOT IN (SELECT id FROM cc WHERE cluster_id <> id)
         ORDER BY doc_id""")),

    Declared("dd8_dedup_near_lsh", (s, dir) => {
      // end-to-end near-dedup through the LSH SCALE path, oracle-exact:
      // at threshold=1.0 the surviving pair set is precisely the pairs
      // with shingle-set Jaccard == 1 — identical shingle sets give
      // identical minhash signatures, hence identical keys in EVERY
      // band, so LSH recall for them is 1.0 by construction and the
      // result is hash-seed-independent; DuckDB replays it as
      // shingle-set equality. spanning=true keeps exact recall WITHOUT
      // lifting bucketCap: each bucket emits occupancy−1 consecutive
      // pairs under the set-fingerprint order (a duplicate class is
      // contiguous, so its spanning pairs all verify), and the
      // connected components — all dedupNear consumes — equal the
      // clique path's. A boilerplate doc duplicated a million times
      // costs 10^6−1 pairs, not 10^12/2.
      // k/bands are free knobs here: at threshold=1.0 the final pair
      // set is signature-size-INDEPENDENT (exact-Jaccard verification
      // keeps only set-equal pairs, and those collide in every band at
      // any k), so a small signature minimizes the signature/band work
      // without touching the result. DedupSpec pins the same contract
      // at the production k=128.
      val docs = docsWithExactDups(s, dir)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        shingleN = 7, k = 32, bands = 8, threshold = 1.0,
        spanning = true)
      Dedup.dedupNear(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      Some("""WITH RECURSIVE all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 1.0),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
         cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT doc_id FROM all_docs
         WHERE doc_id NOT IN (SELECT id FROM cc WHERE cluster_id <> id)
         ORDER BY doc_id""")),

    Declared("dd5_embed_dup", (s, dir) => {
      // the synthetic embeddings have no natural pairs above 0.9 cosine
      // (measured max 0.48), so plant identical twins like dd1/dd4 do —
      // the operator must recover exactly those.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      Dedup.embeddingDupPairs(emb.unionByName(twins), "vec_id", "embedding",
          dim = 64, threshold = 0.99, nBits = 10, tables = 2)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("ann1_topk", (s, dir) => {
      // the SCALE path: broadcast queries + per-partition bounded heaps
      // (no N×Q score matrix is ever sorted or shuffled), in quantized
      // scoring mode so results are bit-identical to the window-rank
      // SQL twin that serves as the DuckDB oracle. AnnSpec additionally
      // asserts heap-path == SQL-twin equality and that the plan has no
      // corpus×queries join node.
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
          quantized = true)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      Some("""WITH q AS (
           SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qq
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
             CAST(list_dot_product(qv, qq) AS DOUBLE) AS d,
             CAST(list_dot_product(qv, qv) AS DOUBLE) AS na,
             CAST(list_dot_product(qq, qq) AS DOUBLE) AS nb
           FROM c, q WHERE neighbor_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor_id,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE sign(d) * d * d / (na * nb) END AS score
           FROM scored),
         top AS (
           SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
           FROM ranked)
         SELECT query_id, rank, neighbor_id, score FROM top
         WHERE rank <= 10 ORDER BY query_id, rank""")),

    // SRP-LSH with query-directed multiprobe (8 probes/table: base
    // bucket + 7 lowest-margin bit flips) — query-side only, the
    // corpus index stays one bucket per table
    // sweep of bits × tables × probes: 7-bit codes × 8
    // tables × 8 probes clears the 0.5 recall line at BOTH sf0.001
    // (0.615) and sf0.01 (0.600) for the SAME wall cost as the old
    // 8×4×8 config (wider buckets + more tables trade code selectivity
    // for table diversity; candidates stay bucket-bounded)
    Declared("ann2_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 10, dim = 64,
          nBits = 7, tables = 8, probes = 8)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    // nProbe=6 of 16 cells (sweep: recall 0.545 → 0.660 at sf0.01 for
    // +50% probe volume — the documented recall/cost knob)
    Declared("ann3_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
          nCells = 16, nProbe = 6)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    // PQ/ADC with exact rerank of the 10·k ADC shortlist (IVFADC+R —
    // codebook-seeded → rows-only; planted-twin recall and ranking
    // quality are pinned by AnnSpec, measured recall lands in ann6).
    // rerank 50 → 100 (sweep): recall 0.675 → 0.870 at sf0.01; the
    // rerank scan is broadcast-driven and column-pruned, so doubling
    // the shortlist costs ~nothing at any scale
    Declared("ann4_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.pqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
          m = 8, ksub = 16, rerank = 100)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    // IVF-PQ combined tier: nProbe=6 + 10·k exact rerank (sweep:
    // 0.495 → 0.645 at sf0.01; codebook-seeded → rows-only;
    // planted-twin recall ≥ IVF-alone at equal probe budget is pinned
    // by AnnSpec)
    Declared("ann5_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
          nCells = 16, nProbe = 6, m = 8, ksub = 16, rerank = 100)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    // PERSISTED IVF-PQ index (the dd14 incremental pattern for vector
    // search): train + encode + write ONCE, then every query batch
    // reads codebooks (KBs) and ONLY the probed cell partitions of
    // the codes table — partition pruning turns probe selectivity
    // into I/O selectivity, which the inline tier cannot offer. Same
    // parameters as ann5, so the result is row-identical to it by
    // shared-trainer construction (spec-pinned; codebook-seeded →
    // rows-only, like every approximate tier).
    Declared("ann9_ivfpq_index", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann9")
      Ann.buildIvfPqIndex(emb, tmp.toString, nCells = 16, m = 8, ksub = 16)
      Ann.ivfPqTopKIndexed(s, tmp.toString, emb.filter(col("vec_id") < 20),
          emb, k = 10, nCells = 16, nProbe = 6, m = 8, ksub = 16, rerank = 100)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    // RETRIEVAL-GRADE tier (r10 task #4): the ≥0.9-recall config the
    // cost curve actually supports — PQ m=16 (finer codes halve the
    // per-subspace quantization error) + 25·k exact rerank. Swept
    // recall@10: 1.000 / 0.995 / 0.960 at sf0.001 / 0.01 / 0.1 for
    // 0.71 s at sf0.1 — ~flat vs the 0.870 m=8/rerank=100 tier,
    // because both the ADC scan and the broadcast-driven rerank scan
    // are corpus-linear and the doubled code size only grows the
    // shuffled candidate rows (k·10 per query), not the scan. At a
    // growing corpus the knob that preserves recall is rerank ∝
    // shortlist error, not m — documented in ann6's floor spec.
    // Codebook-seeded → rows-only, like every approximate tier.
    Declared("ann7_pq_hi", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.pqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
          m = 16, ksub = 16, rerank = 250)
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      None),

    Declared("ann6_recall", (s, dir) => {
      // MEASURED recall gate for the approximate ANN tiers: fraction
      // of ann1's exact top-10 recovered per query (fixed seeds, same
      // params as the declared ann2/ann5 queries), averaged over the
      // query set. Declared so the recall number lands in the
      // driver's correctness dump each round instead of only inside
      // ScalaTest; rows-only because the LSH/codebook seeds are
      // engine-specific (AnnSpec pins per-method floors).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      val k = 10
      // the exact list is consumed by all five recall branches; left
      // LAZY deliberately — measured: an eager localCheckpoint here
      // serializes the brute-force scan in front of the tiers' own
      // driver-side training phases, while the lazy branches overlap
      // with them (3.14 s → 3.56 s when checkpointed)
      val exact = Ann.bruteForceTopK(emb, qs, k = k, quantized = true)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(name: String, approx: DataFrame): DataFrame =
        // denominator = the EXACT list's actual size per query (= k
        // when the corpus has ≥ k eligible neighbors), so the number
        // stays honest if k or the fixture ever changes
        exact.join(approx.select(col("query_id"), col("neighbor_id"),
              lit(1).as("__hit")),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg((count(col("__hit")).cast("double") / count(lit(1))).as("recall"))
          .agg(count(lit(1)).as("n_queries"),
            round(avg(col("recall")), 4).as("recall_at_10"))
          .select(lit(name).as("method"), col("n_queries"), col("recall_at_10"))
      recallOf("ann2_lsh",
          Ann.lshTopK(emb, qs, k = k, dim = 64, nBits = 7, tables = 8,
            probes = 8))
        .unionByName(recallOf("ann3_ivf",
          Ann.ivfTopK(emb, qs, k = k, nCells = 16, nProbe = 6)))
        .unionByName(recallOf("ann4_pq",
          Ann.pqTopK(emb, qs, k = k, m = 8, ksub = 16, rerank = 100)))
        .unionByName(recallOf("ann5_ivfpq",
          Ann.ivfPqTopK(emb, qs, k = k, nCells = 16, nProbe = 6, m = 8,
            ksub = 16, rerank = 100)))
        .unionByName(recallOf("ann7_pq_hi",
          Ann.pqTopK(emb, qs, k = k, m = 16, ksub = 16, rerank = 250)))
        .orderBy(col("method").asc)
    },
      None),

    Declared("txt1_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_utf"),
        textfns.wsTokenCount(col("text")).as("n_ws_tokens"),
        textfns.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
        .orderBy(col("doc_id").asc),
      Some(tokensOracle)),

    Declared("txt2_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id").asc),
      Some("""WITH s AS (
           SELECT doc_id,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|une|et|est)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS s_es,
             len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
               + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
               + len(regexp_extract_all(text, '和')) AS s_zh
           FROM documents)
         SELECT doc_id,
           CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
             WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh AND s_de > 0 THEN 'de'
             WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
             WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
             WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_fr AND s_zh >= s_es AND s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred
         FROM s ORDER BY doc_id""")),

    Declared("txt3_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.wsTokenCount(col("text")).as("n_words"),
        textfns.stopwordRatio(col("text")).as("stop_ratio"),
        textfns.punctRatio(col("text")).as("punct_ratio"),
        textfns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id").asc),
      Some("""WITH base AS (
           SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct_hits,
             length(text) AS n_chars
           FROM documents),
         ratios AS (
           SELECT doc_id, n_words,
             CAST(stop_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS stop_ratio,
             CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio
           FROM base)
         SELECT doc_id, n_words, stop_ratio, punct_ratio,
           least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
             + least(stop_ratio * 5.0, 1.0) * 0.3
             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 AS quality
         FROM ratios ORDER BY doc_id""")),

    Declared("txt4_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.contentFingerprint(col("text")).as("fp_md5"))
        .orderBy(col("doc_id").asc),
      Some("""SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_md5
         FROM documents ORDER BY doc_id""")),

    Declared("txt9_repetition", (s, dir) =>
      // within-doc duplicated-trigram ratio — the boilerplate/looping
      // quality signal. Total = word-count arithmetic; distinct via
      // the one-pass codegen shingle kernel; all scan-side.
      t(s, dir, "documents").select(
          col("doc_id"),
          greatest(size(split(textfns.normalizeText(col("text")), " ")) - 2,
            lit(0)).as("n_grams"),
          size(hashfns.distinctWordShingles(col("text"), 3)).as("n_distinct"),
          textfns.repetitionRatio(col("text"), 3).as("repetition"))
        .orderBy(col("doc_id").asc),
      Some("""WITH words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
                 FROM words WHERE len(w) >= 3)),
         dist AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY 1)
         SELECT w.doc_id,
           CAST(greatest(len(w.w) - 2, 0) AS INTEGER) AS n_grams,
           CAST(coalesce(d.n_distinct, 0) AS INTEGER) AS n_distinct,
           CASE WHEN len(w.w) - 2 <= 0 THEN 0.0
                ELSE 1.0 - CAST(coalesce(d.n_distinct, 0) AS DOUBLE)
                           / CAST(len(w.w) - 2 AS DOUBLE) END AS repetition
         FROM words w LEFT JOIN dist d USING (doc_id)
         ORDER BY doc_id""")),

    Declared("txt10_decontam", (s, dir) => {
      // train/test decontamination: flag corpus docs whose 5-gram
      // containment against a benchmark set (docs 0–4) crosses 0.25.
      // Planted contamination: every 20th doc re-spliced with
      // benchmark doc 0's text (containment ≥ 0.33 by construction;
      // natural ceiling measured 0.125) — the flagged set is exactly
      // bench docs themselves + the planted splices.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 5)
      val b0 = bench.filter(col("doc_id") === 0)
        .select(col("text").as("bench_text"))
      val spliced = d.filter(col("doc_id") % 20 === 0 && col("doc_id") >= 20)
        .crossJoin(broadcast(b0))
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(col("text"), lit(" "), col("bench_text")).as("text"))
      Decontam.contaminated(d.unionByName(spliced), bench, "doc_id", "text",
          threshold = 0.25, shingleN = 5)
        .orderBy(col("doc_id").asc)
    },
      Some(decontamOracle)),

    Declared("txt12_lm_score", (s, dir) => {
      // corpus-bigram LM scoring (KenLM-style familiarity signal):
      // score each doc by the mean log conditional probability of its
      // bigrams under the corpus's own bigram model, p(w2|w1) =
      // c(w1 w2) / c(w1 ·). Low scores flag gibberish/outliers.
      // Scale shape: one aggregate builds the model (bigram counts +
      // prefix counts from the same table), doc bigrams join the model
      // by key — the standard shuffle-on-token shape; text itself
      // never shuffles. ln over exact-integer ratios is engine-stable;
      // the per-doc mean rounds to 4dp (summation-order jitter sits
      // ~1e-12 below the grid).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bi = docs.select(col("doc_id"),
        explode(hashfns.wordShingles(col("text"), 2)).as("bigram"))
      val bigramCounts = bi.groupBy("bigram").agg(count(lit(1)).as("cb"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
      val prefixCounts = bigramCounts.groupBy("w1").agg(sum("cb").as("cw"))
      val model = bigramCounts.join(prefixCounts, "w1")
      bi.join(model, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("cb").cast("double") / col("cw").cast("double"))), 4)
            .as("avg_ll"))
        .orderBy(col("doc_id").asc)
    },
      Some("""WITH words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         bi AS (
           SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bigram
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                 FROM words WHERE len(w) >= 2)),
         bc AS (
           SELECT bigram, count(*) AS cb,
             string_split(bigram, ' ')[1] AS w1
           FROM bi GROUP BY 1),
         pc AS (SELECT w1, sum(cb) AS cw FROM bc GROUP BY 1),
         model AS (SELECT bigram, cb, cw FROM bc JOIN pc USING (w1))
         SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(CAST(cb AS DOUBLE) / CAST(cw AS DOUBLE))), 4) AS avg_ll
         FROM bi JOIN model USING (bigram)
         GROUP BY doc_id ORDER BY doc_id""")),

    Declared("txt11_chunks", (s, dir) => {
      // sequence packing: split each doc into 50-word windows with
      // stride 40 (10-word overlap) — the context-chunking step before
      // tokenization. One scan, no shuffle before the output sort:
      // chunk windows materialize scan-side from the split array.
      val W = 50; val S = 40
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          split(textfns.normalizeText(col("text")), " ").as("w"))
        .withColumn("nw", size(col("w")))
      val nChunks = when(col("nw") <= W, lit(1L))
        .otherwise(ceil((col("nw") - lit(W)).cast("double") / S).cast("long") + 1L)
      d.withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
        .withColumn("ws", slice(col("w"), col("chunk_id").cast("int") * S + 1, lit(W)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ws")).as("n_words"),
          concat_ws(" ", col("ws")).as("chunk"))
        .orderBy(col("doc_id").asc, col("chunk_id").asc)
    },
      Some("""WITH words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         c AS (
           SELECT doc_id, w,
             CASE WHEN len(w) <= 50 THEN 1
                  ELSE CAST(ceil((len(w) - 50) / 40.0) AS BIGINT) + 1 END AS n_chunks
           FROM words)
         SELECT doc_id, i AS chunk_id,
           CAST(len(w[(i*40+1):(i*40+50)]) AS INTEGER) AS n_words,
           array_to_string(w[(i*40+1):(i*40+50)], ' ') AS chunk
         FROM (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM c)
         ORDER BY doc_id, chunk_id""")),

    Declared("txt13_paragraph_dedup", (s, dir) => {
      // paragraph-level dedup over a paragraph-structured corpus built
      // deterministically from `documents`: a per-source header
      // paragraph (the boilerplate that repeats across distinct docs)
      // + the doc's words in 12-word paragraphs. The header recurs
      // once per doc of its source (≫5), so dedup strips it; unique
      // body paragraphs survive in order. Only (fingerprint, count)
      // pairs shuffle; the rewrite is a scan-side higher-order filter
      // against one broadcast banned-set row.
      val P = 12
      val sep = "\n\n"
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          split(textfns.normalizeText(col("text")), " ").as("w"))
        .withColumn("nw", size(col("w")))
      val nPar = when(col("nw") <= P, lit(1L))
        .otherwise(ceil(col("nw").cast("double") / P).cast("long"))
      val docs = d
        .withColumn("ptext",
          concat_ws(sep,
            concat(array(col("source")),
              transform(sequence(lit(0L), nPar - 1),
                i => concat_ws(" ", slice(col("w"), (i.cast("int") * P) + 1, lit(P)))))))
        .select(col("doc_id"), col("ptext"))
      graft.dedup.Dedup.paragraphDedup(docs, "doc_id", "ptext",
          sep = sep, maxOccurrences = 5L)
        .select(col("doc_id"), col("ptext").as("text"))
        .orderBy(col("doc_id").asc)
    },
      Some("""WITH d AS (
           SELECT doc_id, source,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         pd AS (
           SELECT doc_id,
             source || chr(10) || chr(10) ||
             array_to_string(
               list_transform(
                 range(0, CASE WHEN len(w) <= 12 THEN 1
                               ELSE CAST(ceil(len(w) / 12.0) AS BIGINT) END),
                 i -> array_to_string(w[(i*12+1):(i*12+12)], ' ')),
               chr(10) || chr(10)) AS ptext
           FROM d),
         paras AS (
           SELECT unnest(string_split(ptext, chr(10) || chr(10))) AS p FROM pd),
         banned AS (
           SELECT coalesce(list(fp), CAST([] AS VARCHAR[])) AS bl FROM (
             SELECT md5(lower(trim(regexp_replace(p, '\s+', ' ', 'g')))) AS fp,
                    count(*) AS c
             FROM paras GROUP BY 1) WHERE c > 5)
         SELECT pd.doc_id,
           array_to_string(
             list_filter(string_split(pd.ptext, chr(10) || chr(10)),
               x -> NOT list_contains(b.bl,
                 md5(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))))),
             chr(10) || chr(10)) AS text
         FROM pd CROSS JOIN banned b
         ORDER BY doc_id""")),

    Declared("txt16_heavy_hitters", (s, dir) =>
      // exact heavy hitters over the word stream via the
      // sketch-then-verify scale path: Misra-Gries candidates (fixed
      // 2000 counters, guaranteed superset at this threshold) →
      // broadcast semi-join → exact count → threshold. Oracle replays
      // it as plain GROUP BY ... HAVING — sketch error never reaches
      // the output, so the result is exact at any corpus size while
      // the plan never shuffles the long-tail vocabulary.
      Freq.heavyHitters(
          t(s, dir, "documents")
            .select(explode(split(
              lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
              .as("word"))
            .filter(col("word") =!= ""),
          itemCol = "word", minFraction = 0.002)
        .orderBy(col("n").desc, col("word").asc),
      Some("""WITH words AS (
           SELECT unnest(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
           FROM documents),
         w AS (SELECT word FROM words WHERE word <> ''),
         t AS (SELECT count(*) AS n_total FROM w)
         SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM w GROUP BY word
         HAVING count(*) >= (SELECT ceil(n_total * 0.002) FROM t)
         ORDER BY n DESC, word""")),

    Declared("txt8_tfidf", (s, dir) => {
      // TF-IDF: tf from one explode+count, df from the distinct
      // doc-word pairs of the SAME aggregate, N broadcast as a scalar.
      // ln() over integer-derived doubles, rounded 4dp (libm ulp
      // differences sit far below the grid step)
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(
          lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
          .as("word"))
        .filter(col("word") =!= "")
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 4)
            .as("tfidf"))
        .orderBy(col("doc_id").asc, col("word").asc)
    },
      Some("""WITH words AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
           FROM documents),
         tf AS (
           SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
           FROM words WHERE word <> '' GROUP BY doc_id, word),
         dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT doc_id, word, tf,
           round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
         FROM tf JOIN dfreq USING (word) CROSS JOIN n
         ORDER BY doc_id, word""")),

    Declared("txt7_vocab", (s, dir) =>
      // corpus vocabulary: top-100 words by frequency. explode →
      // two-level aggregate (partial map-side combine on word), then
      // TakeOrderedAndProject for the top-k — no global sort
      GraftFrame(t(s, dir, "documents")
          .select(explode(split(
            lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
            .as("word"))
          .filter(col("word") =!= ""))
        .countBy(Seq("word")) // summarise drops groups → ungrouped top-k
        .sliceMax(col("n"), 100, col("word"))
        .arrange(desc("n"), asc("word"))
        .df,
      Some("""SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT unnest(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
           FROM documents)
         WHERE word <> ''
         GROUP BY word
         ORDER BY n DESC, word
         LIMIT 100""")),

    Declared("txt5_clean", (s, dir) =>
      // plant markup/URLs on every 5th doc, then clean — the operator
      // must strip exactly the planted noise and leave other docs at
      // their whitespace-collapsed form
      t(s, dir, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("<p>"), col("text"),
              lit("</p> see https://ex.am/x?q=1 now")))
            .otherwise(col("text")).as("dirty"))
        .select(col("doc_id"), textfns.cleanText(col("dirty")).as("clean_text"))
        .orderBy(col("doc_id").asc),
      Some("""WITH dirty AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN '<p>' || text || '</p> see https://ex.am/x?q=1 now'
               ELSE text END AS dirty
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(dirty, '<[^>]+>', ' ', 'g'),
               'https?://[^\s]+', ' ', 'g'),
             '\s+', ' ', 'g')) AS clean_text
         FROM dirty ORDER BY doc_id""")),

    Declared("txt6_scrub", (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          concat(col("text"), lit(" contact: u"), col("doc_id").cast("string"),
            lit("@ex.com or 555-1234")).as("dirty"))
        .select(col("doc_id"), textfns.scrubPii(col("dirty")).as("scrubbed"))
        .orderBy(col("doc_id").asc),
      Some("""SELECT doc_id,
           regexp_replace(
             regexp_replace(
               text || ' contact: u' || CAST(doc_id AS VARCHAR) || '@ex.com or 555-1234',
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\d{3}[-. ]\d{4}', '<PHONE>', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""")),

    Declared("mm1_binary_meta", (s, dir) =>
      Multimodal.metadataFeatures(Multimodal.asMediaTable(t(s, dir, "documents")))
        .orderBy(col("doc_id").asc),
      Some("""SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(64 + (strlen(text) % 577) AS INT) AS fake_width
         FROM documents ORDER BY doc_id""")),

    Declared("mm2_media_dedup", (s, dir) => {
      // media near-dedup end-to-end: binary payload → embedding stub →
      // SRP-LSH embedding near-dup — no media-specific dedup machinery.
      // Oracle-exact despite the engine-specific embedder: identical
      // payloads embed identically (cosine 1.0, so they land in the
      // SAME bucket at ANY nBits — recall 1.0 independent of bucket
      // granularity), and no distinct payloads reach 0.999 in 64-dim
      // stub space, so the pair set equals the identical-payload pairs
      // — replayable as text equality (payload = utf8(text)). A real
      // vision tower swaps in without touching the pipeline.
      //
      // nBits=16 keeps expected bucket occupancy O(1) (the FINITE
      // bucketCap is a guardrail that never triggers here): exact
      // recall comes from shrinking buckets, not from uncapping the
      // per-bucket candidate fan-out — an uncapped popular bucket is
      // quadratic, the one shape that melts at corpus scale.
      val media = Multimodal.asMediaTable(docsWithExactDups(s, dir))
      val emb = Multimodal.embedStub(media)
      Dedup.embeddingDupPairs(emb, "vec_id", "embedding", dim = 64,
          threshold = 0.999, nBits = 16, tables = 2, bucketCap = 2000)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM all_docs a JOIN all_docs b
           ON a.text = b.text AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""")),

    Declared("mm3_perceptual_dedup", (s, dir) => {
      // PERCEPTUAL media near-dedup: real PNG pixels → dHash over the
      // decoded luminance grid → pigeonhole Hamming buckets. Finds the
      // near-duplicates mm2's byte-level tier cannot: the corpus is
      // every doc rendered as a structured 96×72 PNG (real JDK codec
      // path end-to-end), with every 3rd doc re-planted as a
      // bilinear-resized 64×48 re-encode and every 5th as a harsher
      // 48×36 re-encode — DIFFERENT bytes, same picture. Rows-only by
      // design (dHash values are engine-specific constants, like the
      // MinHash seeds); MultimodalSpec pins planted recall = 1.0 and
      // the exact pair set on a fixed fixture. Only (id, 64-bit sig)
      // ever shuffles — payloads stay in the scan stage.
      //
      // The corpus is bounded to doc_id < 500 (present at every SF):
      // the per-row PNG render+decode exists ONLY because the parquet
      // fixtures carry no pixels — it is fixture synthesis, not the
      // operator (measured: unbounded it costs 13 s at sf0.1 for 7.7k
      // images, pure codec time). Images are seeded by doc_id alone,
      // so the declared result is identical at every SF. The
      // operator's own scale path (signature extraction + pigeonhole
      // Hamming buckets) is corpus-linear and spec-measured.
      // localCheckpoint: base feeds three DAG branches (union + both
      // variant filters) — without it the PNG render re-runs per
      // branch (~767 codec passes instead of 500)
      val base = Multimodal.syntheticImageTable(
        t(s, dir, "documents").filter(col("doc_id") < 500)).localCheckpoint()
      def variant(mod: Int, off: Long, w: Int, h: Int) =
        Multimodal.resizedMediaTable(
          base.filter(pmod(col("doc_id"), lit(mod)) === 0), off, w, h)
      val off1 = 10000000L; val off2 = 20000000L
      val corpus = base.unionByName(variant(3, off1, 64, 48))
        .unionByName(variant(5, off2, 48, 36))
      Multimodal.perceptualDupPairs(corpus, maxHamming = 10, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("mm5_video_dedup", (s, dir) => {
      // VIDEO near-dedup via temporal perceptual signature: every doc
      // renders as a GVID (raw-frame container — the JVM ships no
      // video codec, so the container is synthetic while the parse /
      // frame-extract / dHash / re-encode plumbing is real, the
      // library's multimodal contract); every 3rd doc re-plants with
      // HALF THE FRAMES (frame-rate change, real byte-level
      // re-encode) and every 5th brightness-shifted +30. Scene-center
      // sampling by relative position + gradient dHash make both
      // transforms Hamming-0 BY CONSTRUCTION (recall 1.0 by design,
      // not tuning — the mm3/mm4 discipline); the budget is left for
      // real-codec noise. Rows-only (hash-design values);
      // MultimodalSpec pins the exact pair set, both invariances and
      // zero bridging. Only (id, 64-bit sig) shuffles; payloads stay
      // in the scan. Corpus bounded to doc_id < 400 — the render is
      // fixture synthesis, seeded by doc_id alone, identical at
      // every SF.
      val base = Multimodal.syntheticVideoTable(
        t(s, dir, "documents").filter(col("doc_id") < 400)
          .select("doc_id")).localCheckpoint()
      val off1 = 10000000L; val off2 = 20000000L
      val corpus = base
        .unionByName(Multimodal.frameDroppedVideoTable(
          base.filter(pmod(col("doc_id"), lit(3)) === 0), off1, keepEvery = 2))
        .unionByName(Multimodal.brightnessShiftedVideoTable(
          base.filter(pmod(col("doc_id"), lit(5)) === 0), off2, delta = 30))
      Multimodal.videoDupPairs(corpus, maxHamming = 4, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("mm4_audio_dedup", (s, dir) => {
      // AUDIO near-dedup through the real JDK codec (javax.sound WAV
      // decode end-to-end): every doc renders as one second of seeded
      // amplitude-modulated PCM; every 3rd re-plants at half volume
      // and every 5th at quarter volume — different bytes everywhere,
      // same recording. The 64-window envelope hash is EXACTLY
      // gain-invariant (RMS comparisons survive any positive gain),
      // so the planted variants co-bucket where byte-level dedup sees
      // unrelated blobs. Rows-only like mm3 (hash-design values);
      // MultimodalSpec pins header decode, exact gain invariance,
      // planted recall 1.0 and zero cross-recording pairs. Corpus
      // bounded to doc_id < 500 for the same reason as mm3: the WAV
      // synthesis exists only because the fixtures carry no audio.
      val base = Multimodal.syntheticAudioTable(
        t(s, dir, "documents").filter(col("doc_id") < 500)).localCheckpoint()
      def variant(mod: Int, off: Long, gain: Double) =
        Multimodal.gainScaledAudioTable(
          base.filter(pmod(col("doc_id"), lit(mod)) === 0), off, gain)
      val corpus = base.unionByName(variant(3, 10000000L, 0.5))
        .unionByName(variant(5, 20000000L, 0.25))
      Multimodal.audioDupPairs(corpus, maxHamming = 2, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("ev1_tumbling", (s, dir) =>
      Streams.tumblingAgg(t(s, dir, "events"), "1 hour")
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some(tumblingOracle)),

    Declared("ev15_session_window_stream", (s, dir) =>
      // sessionization through the engine's NATIVE session_window
      // state (ev6 proves the CUSTOM-state route; this proves the
      // built-in session-merge, the production default when no
      // per-session logic is needed). Merge rule is overlap-or-
      // adjacent: a new session starts only at diff > gap, so an
      // exactly-gap event MERGES — identical to ev2's lag form and
      // to this oracle's `> 1800000` split; the spec pins the
      // exact-boundary fixture. Engine-neutral integer-millis
      // output; no watermark in the gate (complete mode), so the
      // result is the FULL session set, oracle-exact.
      Streams.sessionWindowStreamOnce(s, s"$dir/events.parquet",
          gapMinutes = 30)
        .orderBy(col("user_id").asc, col("session_start_ms").asc),
      // the gap-based replay: session_window merges overlapping-or-
      // ADJACENT windows, so its boundary rule is exactly ev2's
      // (> gap splits, = gap merges) — spec-pinned on the boundary
      Some("""WITH e AS (
           SELECT user_id, event_id, value,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
         m AS (
           SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms
           FROM e),
         s AS (
           SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                          THEN 1 ELSE 0 END AS new_session
           FROM m),
         x AS (
           SELECT *, sum(new_session) OVER (PARTITION BY user_id
             ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM s)
         SELECT user_id,
           min(ts_ms) AS session_start_ms,
           max(ts_ms) AS session_end_ms,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM x GROUP BY user_id, session_seq
         ORDER BY user_id, session_start_ms"""), streaming = true),

    Declared("ev14_hopping_stream", (s, dir) =>
      // SLIDING windows through the engine: each event lands in 4
      // overlapping (1 h window / 15 min slide) states — the
      // dashboard/rate-monitor refresh shape a tumbling window cannot
      // express. Oracle expands each event to its 4 aligned window
      // starts and replays the aggregate; integer-second window
      // membership is exact (window starts are whole 900 s multiples).
      Streams.hoppingAggStreamOnce(s, s"$dir/events.parquet",
          windowLen = "1 hour", slide = "15 minutes")
        .orderBy(col("window_start").asc, col("event_type").asc),
      // each event expands to its 4 overlapping window starts (aligned
      // 900 s multiples; membership over integer seconds is exact)
      Some("""WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS tsec, event_type, value
           FROM events),
         w AS (
           SELECT tsec - (tsec % 900) - 900 * j AS window_start,
             event_type, value
           FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j))
         SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1, 2"""), streaming = true),

    Declared("ev5_tumbling_stream", (s, dir) =>
      // ev1's transform executed end-to-end BY the Structured
      // Streaming engine (readStream → window agg → AvailableNow
      // backfill → memory sink); same oracle as ev1 — the
      // batch/stream equivalence contract, checked by the gate
      Streams.tumblingAggStreamOnce(s, s"$dir/events.parquet", "1 hour")
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some(tumblingOracle), streaming = true),

    Declared("ev12_trending_stream", (s, dir) =>
      // per-window TRENDING types through the engine's CHAINED
      // stateful operators: per-(window, type) counts feed a SECOND
      // stateful windowed aggregate (totals + type list re-windowed
      // via window_time), both append-mode — the multi-stateful
      // capability none of ev1–ev11 exercises (plan-asserted: two
      // StateStoreSaves). State is O(windows × types), never
      // per-event. Append finalization (the ev6 discipline): only
      // windows sealed by the final watermark (max event time − 2 h)
      // emit on a bounded input — the oracle encodes exactly that
      // cutoff in ms (Spark tracks event time in floor-ms).
      Streams.trendingStreamOnce(s, s"$dir/events.parquet",
          windowLen = "1 hour", minFraction = 0.25)
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some("""WITH e AS (
           SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
             event_type
           FROM events),
         wm AS (
           SELECT (max(epoch_ns(ts)) // 1000000) - 7200000 AS wm_ms
           FROM events),
         c AS (SELECT ws, event_type, count(*) AS n_events FROM e GROUP BY 1, 2),
         t AS (SELECT ws, CAST(sum(n_events) AS BIGINT) AS window_total
               FROM c GROUP BY 1)
         SELECT c.ws AS window_start, c.event_type,
           c.n_events, t.window_total
         FROM c JOIN t USING (ws), wm
         WHERE c.n_events >= ceil(t.window_total * 0.25)
           AND (c.ws + 3600) * 1000 <= wm.wm_ms
         ORDER BY window_start, event_type"""), streaming = true),

    Declared("ev13_drift_stream", (s, dir) =>
      // CONTINUOUS data-quality: per-window categorical drift vs the
      // static full-history baseline, through the engine's chained
      // stateful aggregates (the ev12 shape) with the whole JSD as a
      // stateless projection over the collected category list —
      // cur12's exact arithmetic per sealed window, so the oracle
      // replays every term under the append-mode cutoff. topK=3 over
      // ~5 event types keeps a live __other__ fold.
      Streams.categoricalDriftStreamOnce(s, s"$dir/events.parquet",
          baseline = t(s, dir, "events").select("event_type"),
          catCol = "event_type", windowLen = "1 hour", topK = 3)
        .orderBy(col("window_start").asc, col("category").asc),
      // the ev12 sealed-window cutoff + cur12's JSD arithmetic, per
      // window: kept categories cross-join every sealed window (a
      // baseline category absent from a window emits with n_cur = 0),
      // the __other__ fold rides the per-window kept sum
      Some("""WITH bc AS (
           SELECT event_type AS c, count(*) AS nb FROM events
           WHERE event_type IS NOT NULL GROUP BY 1),
         tbq AS (SELECT sum(nb) AS tb FROM bc),
         kept AS (SELECT c, nb FROM bc ORDER BY nb DESC, c ASC LIMIT 3),
         oth AS (SELECT (SELECT sum(nb) FROM bc)
                      - (SELECT sum(nb) FROM kept) AS nbo),
         wm AS (SELECT (max(epoch_ns(ts)) // 1000000) - 7200000 AS wm_ms
                FROM events),
         e AS (
           SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
             event_type
           FROM events WHERE event_type IS NOT NULL),
         wc AS (SELECT ws, event_type, count(*) AS n FROM e GROUP BY 1, 2),
         wt AS (SELECT ws, CAST(sum(n) AS BIGINT) AS window_total
                FROM wc GROUP BY 1),
         sealed AS (
           SELECT wt.ws, wt.window_total FROM wt, wm
           WHERE (wt.ws + 3600) * 1000 <= wm.wm_ms),
         keptrows AS (
           SELECT s.ws, k.c AS category, k.nb AS n_base,
             coalesce(wc.n, 0) AS n_cur, s.window_total
           FROM sealed s CROSS JOIN kept k
           LEFT JOIN wc ON wc.ws = s.ws AND wc.event_type = k.c),
         ko AS (SELECT ws, sum(n_cur) AS nck FROM keptrows GROUP BY 1),
         otherrows AS (
           SELECT k.ws, '__other__' AS category, o.nbo AS n_base,
             s.window_total - k.nck AS n_cur, s.window_total
           FROM ko k JOIN sealed s ON s.ws = k.ws, oth o
           WHERE o.nbo > 0 OR s.window_total - k.nck > 0),
         allrows AS (
           SELECT * FROM keptrows UNION ALL SELECT * FROM otherrows)
         SELECT ws AS window_start, category,
           CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
           window_total,
           round(n_base / (SELECT tb FROM tbq), 6) AS p_base,
           round(n_cur / window_total, 6) AS p_cur,
           round((CASE WHEN n_base = 0 THEN 0.0
                       ELSE (n_base / (SELECT tb FROM tbq))
                         * ln((n_base / (SELECT tb FROM tbq))
                           / ((n_base / (SELECT tb FROM tbq)
                               + n_cur / window_total) / 2)) END
                + CASE WHEN n_cur = 0 THEN 0.0
                       ELSE (n_cur / window_total)
                         * ln((n_cur / window_total)
                           / ((n_base / (SELECT tb FROM tbq)
                               + n_cur / window_total) / 2)) END)
                 * 0.5, 6) AS jsd_term
         FROM allrows ORDER BY window_start, category"""), streaming = true),

    Declared("ev8_stream_static_join", (s, dir) => {
      // stream-static enrichment executed BY the streaming engine:
      // events stream in, a static per-type dimension (derived from
      // the batch read — stands in for any reference table) broadcasts
      // into every micro-batch, no state store touched. Oracle replays
      // it as a plain join+aggregate — batch/stream equivalence for
      // the enrichment shape, completing the streaming family
      // (ev5 stateless transform, ev6 custom state, ev7 dedup).
      val dim = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("type_total"))
      Streams.streamStaticJoinOnce(s, s"$dir/events.parquet", dim,
          "event_type", Seq("type_total"))
        .orderBy(col("event_type").asc)
    },
      Some("""WITH dim AS (
           SELECT event_type, count(*) AS type_total
           FROM events GROUP BY 1)
         SELECT e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value,
           max(d.type_total) AS type_total
         FROM events e JOIN dim d USING (event_type)
         GROUP BY 1 ORDER BY 1"""), streaming = true),

    Declared("ev9_stream_stream_join", (s, dir) =>
      // TWO live watermarked streams joined on (user, event-time range)
      // — views matched to the same user's clicks within 30 minutes,
      // executed end-to-end by the streaming engine (symmetric-hash
      // join with state-eviction thresholds derived from the range
      // predicate; the helper ASSERTS that plan shape post-run). The
      // oracle replays it as a batch self-join with the identical
      // range predicate — batch/stream equivalence for the last
      // missing streaming tier (ev5 stateless, ev6 custom state,
      // ev7 dedup, ev8 stream-static).
      Streams.intervalJoinStreamOnce(s, s"$dir/events.parquet",
          "view", "click", withinMinutes = 30)
        .orderBy(col("user_id").asc, col("left_id").asc, col("right_id").asc),
      Some("""SELECT v.user_id AS user_id,
           v.event_id AS left_id, c.event_id AS right_id,
           epoch_ms(CAST(c.ts AS TIMESTAMP)) - epoch_ms(CAST(v.ts AS TIMESTAMP)) AS delta_ms,
           v.value AS left_value, c.value AS right_value
         FROM events v JOIN events c
           ON v.user_id = c.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
          AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
         ORDER BY user_id, left_id, right_id"""), streaming = true),

    Declared("ev2_sessionize", (s, dir) =>
      Streams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .orderBy(col("user_id").asc, col("session_seq").asc),
      Some("""WITH e AS (
           SELECT user_id, event_id, value,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
         m AS (
           SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms
           FROM e),
         s AS (
           SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                          THEN 1 ELSE 0 END AS new_session
           FROM m),
         x AS (
           SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
             ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s)
         SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts_ms) AS session_start_ms,
           max(ts_ms) AS session_end_ms,
           round(sum(value), 4) AS sum_value
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("ev6_sessionize_stateful", (s, dir) =>
      // ev2's sessionization THROUGH the streaming engine's
      // arbitrary-state path (flatMapGroupsWithState, AvailableNow
      // backfill, memory sink). Append mode emits CLOSED sessions
      // only — each user's tail session is still open in the state
      // store when the bounded input ends — so the oracle is ev2's
      // SQL minus each user's max session_seq row: the batch/stream
      // equivalence contract for custom state, checked by the gate.
      Streams.sessionizeStatefulOnce(s, s"$dir/events.parquet", gapMinutes = 30)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("session_start_ms"), col("session_end_ms"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("user_id").asc, col("session_seq").asc),
      Some("""WITH e AS (
           SELECT user_id, event_id, value,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
         m AS (
           SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms
           FROM e),
         s AS (
           SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                          THEN 1 ELSE 0 END AS new_session
           FROM m),
         x AS (
           SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
             ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s),
         g AS (
           SELECT user_id, session_seq,
             count(*) AS n_events,
             min(ts_ms) AS session_start_ms,
             max(ts_ms) AS session_end_ms,
             round(sum(value), 4) AS sum_value
           FROM x GROUP BY 1, 2),
         w AS (
           SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS mx FROM g)
         SELECT user_id, session_seq, n_events, session_start_ms,
           session_end_ms, sum_value
         FROM w WHERE session_seq < mx ORDER BY 1, 2"""), streaming = true),

    Declared("ev7_dedup_stream", (s, dir) =>
      // streaming exact dedup through the engine against a simulated
      // at-least-once source (every record delivered twice via two
      // symlinks — no write job): dropDuplicatesWithinWatermark must
      // reduce the doubled delivery back to the source's distinct
      // rows, which the oracle replays as a plain SELECT (event_id is
      // a unique key in the fixture). State expires with the
      // watermark, so the gate exercises the bounded-state contract,
      // not an ever-growing dropDuplicates.
      Streams.dedupStreamOnce(s, s"$dir/events.parquet",
          keyCols = Seq("event_id"), watermark = "2 hours")
        .select(col("event_id"), col("event_type"),
          unix_millis(col("__ts_t")).as("ts_ms"), col("value"))
        .orderBy(col("event_id").asc),
      Some(dedupEventsOracle), streaming = true),

    Declared("ev10_dedup_rocksdb", (s, dir) =>
      // ev7's streaming dedup with the state store that survives
      // 100 TB/day: RocksDBStateStoreProvider keeps dedup keys in
      // native memtables + SST files (disk-bounded) instead of the
      // default in-heap map (which OOMs when keys-per-watermark-window
      // outgrow executor heap). Results are provider-independent by
      // contract — this gate PROVES it by replaying ev7's exact oracle
      // through RocksDB; the helper additionally requires rocksdb*
      // metrics in the progress events, so a silent fallback to the
      // default store cannot pass.
      Streams.dedupStreamOnce(s, s"$dir/events.parquet",
          keyCols = Seq("event_id"), watermark = "2 hours",
          stateStore = Some(Streams.RocksDbStateStore))
        .select(col("event_id"), col("event_type"),
          unix_millis(col("__ts_t")).as("ts_ms"), col("value"))
        .orderBy(col("event_id").asc),
      // same transform, same oracle — the gate's claim is that the
      // RocksDB provider changes WHERE state lives, never the result
      Some(dedupEventsOracle), streaming = true),

    Declared("ev11_neardedup_stream", (s, dir) => {
      // streaming NEAR-dedup (crawl ingestion): every 5th doc also
      // arrives as a whitespace-mangled variant (raw bytes differ —
      // byte-level dedup keeps both), PLUS the at-least-once double
      // delivery. The content-signature state (equal shingle sets ⇒
      // equal 128-bit signature) must reduce all of it to one survivor
      // per normalized-text class. Output projects the class-invariant
      // normalized md5 (which ARRIVAL survives is race-dependent; its
      // class fingerprint is not), so DuckDB replays the whole gate as
      // DISTINCT md5(normalized text) over the same planted union.
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), regexp_replace(col("text"), " ", "  ")).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ev11")
      base.unionByName(variants).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/corpus")
      val part = new java.io.File(s"$tmp/corpus").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.getAbsolutePath
      Streams.nearDedupStreamOnce(s, part, textCol = "text", shingleN = 5)
        .select(textfns.contentFingerprint(col("text")).as("content_fp"))
        .orderBy(col("content_fp").asc)
    },
      Some("""WITH all_docs AS (
           SELECT text FROM documents
           UNION ALL
           SELECT '  ' || regexp_replace(text, ' ', '  ', 'g')
           FROM documents WHERE doc_id % 5 = 0)
         SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
           AS content_fp
         FROM all_docs ORDER BY content_fp"""), streaming = true),

    Declared("ev3_funnel", (s, dir) => {
      // staged funnel view → click → purchase: each stage's entry time
      // is the user's first qualifying event strictly after the prior
      // stage. Timestamps compared internally only (raw nanos order ==
      // timestamp order), output is engine-neutral counts.
      //
      // ONE exchange on user_id: a single grouped aggregate collects
      // min view time plus the (sorted) click/purchase times per user;
      // the stage-2/3 entry times are then array lookups — the first
      // element strictly after the prior stage. The join formulation
      // (filter→join→agg per stage) scans and shuffles the fact table
      // three times; this shuffles it once, and only view/click/
      // purchase rows at that.
      Streams.funnel(t(s, dir, "events"),
          Seq("view", "click", "purchase"))
        .orderBy(col("stage").asc)
    },
      Some("""WITH v AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
         staged AS (
           SELECT user_id, 1 AS stage FROM v
           UNION ALL SELECT user_id, 2 FROM c
           UNION ALL SELECT user_id, 3 FROM p)
         SELECT stage, CAST(count(*) AS BIGINT) AS n_users
         FROM staged GROUP BY stage ORDER BY stage""")),

    Declared("ev4_json_props", (s, dir) =>
      // semi-structured props: JSON-path extraction scan-side (the
      // oracle replays it with a regex — same values, no JSON
      // dependency on the oracle engine)
      t(s, dir, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        // % (not pmod): DuckDB's % keeps the dividend's sign, pmod is
        // always non-negative — they diverge on negative k
        .withColumn("k_bucket", col("k") % 10)
        .orderBy(col("event_id").asc),
      Some("""SELECT event_id,
           CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k,
           CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) % 10 AS k_bucket
         FROM events ORDER BY event_id""")),

    Declared("cur1_curation", (s, dir) => {
      // end-to-end corpus curation: score → filter → exact-dedup →
      // per-language stats. The whole pipeline is ONE Catalyst plan:
      // scoring runs scan-side in codegen, the filter prunes before the
      // dedup shuffle, and the dedup window + final aggregate are the
      // only two shuffles.
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("lang", textfns.langId(col("text")))
        .withColumn("quality", textfns.qualityScore(col("text")))
        .withColumn("n_tokens", textfns.wsTokenCount(col("text")))
        .filter(col("quality") >= 0.5 && col("lang") =!= "und")
      GraftFrame(Dedup.exact(scored, "text", "doc_id"))
        .groupBy("lang")
        .summarise(
          "n_docs" -> count(lit(1)),
          "sum_tokens" -> sum(col("n_tokens")).cast("bigint"),
          "avg_quality" -> round(avg(col("quality")), 4))
        .arrange(asc("lang"))
        .df
    },
      Some("""WITH s AS (
           SELECT doc_id, text,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|une|et|est)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS s_es,
             len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
               + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
               + len(regexp_extract_all(text, '和')) AS s_zh,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct_hits,
             length(text) AS n_chars
           FROM documents),
         scored AS (
           SELECT doc_id, text, n_words,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
               WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
               WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_fr AND s_zh >= s_es AND s_zh > 0 THEN 'zh'
               ELSE 'und' END AS lang,
             least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
               + (1.0 - least(CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) * 10.0, 1.0)) * 0.2 AS quality
           FROM s),
         f AS (SELECT * FROM scored WHERE quality >= 0.5 AND lang <> 'und'),
         dedup AS (
           SELECT min(doc_id) AS doc_id,
             min_by(lang, doc_id) AS lang,
             min_by(n_words, doc_id) AS n_words,
             min_by(quality, doc_id) AS quality
           FROM f GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality
         FROM dedup GROUP BY lang ORDER BY lang""")),

    Declared("cur2_source_stats", (s, dir) =>
      // domain-level curation stats (source ≈ domain): volume, token
      // mass, quality, and dedup rate per source — the aggregates a
      // domain allowlist/blocklist decision reads. Scoring and
      // fingerprinting run scan-side; one shuffle for the aggregate
      // (count-distinct expands to a two-phase partial aggregate).
      t(s, dir, "documents")
        .withColumn("quality", textfns.qualityScore(col("text")))
        .withColumn("fp", textfns.contentFingerprint(col("text")))
        .withColumn("n_tokens", textfns.wsTokenCount(col("text")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .withColumn("unique_ratio",
          round(col("n_unique").cast("double") / col("n_docs").cast("double"), 4))
        .orderBy(col("source").asc),
      Some("""WITH s AS (
           SELECT doc_id, text, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct_hits,
             length(text) AS n_chars
           FROM documents),
         scored AS (
           SELECT source, text,  n_words,
             least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
               + (1.0 - least(CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) * 10.0, 1.0)) * 0.2 AS quality
           FROM s)
         SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_unique,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality,
           round(CAST(count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 4) AS unique_ratio
         FROM scored GROUP BY source ORDER BY source""")),

    Declared("cur3_mixture", (s, dir) => {
      // temperature-style data mixing: downsample each source toward
      // the smallest one with rate (c_min/c_s)^0.5, selecting rows by
      // a DETERMINISTIC multiplicative hash of doc_id — reproducible
      // across engines and runs (seeded RNG samplers are not), so the
      // kept subset is itself oracle-checkable. Rates come from one
      // aggregate; the keep-filter is scan-side arithmetic against a
      // broadcast rate table.
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
      val cmin = counts.agg(min(col("n_before")).as("c_min"))
      val rates = counts.crossJoin(broadcast(cmin))
        .withColumn("rate", least(lit(1.0),
          sqrt(col("c_min").cast("double") / col("n_before").cast("double"))))
      val kept = docs.select("doc_id", "source")
        .join(broadcast(rates.select("source", "rate")), "source")
        // affine hash mod the Mersenne prime 2^31-1, uniform in [0, p).
        // OVERFLOW-SAFE by construction: (id % p) < 2^31 times the
        // 2^30-ish multiplier stays under 2^63 — a raw 64-bit Knuth
        // multiply would silently wrap in Spark and raise in DuckDB
        // for ids past ~3.5e9, exactly the 100 TB regime. Ids p apart
        // share a decision; p ≈ 2.1e9 makes that statistically inert.
        .withColumn("h",
          ((col("doc_id") % lit(2147483647L)) * lit(1103515245L) + lit(12345L))
            % lit(2147483647L))
        .filter(col("h") < floor(col("rate") * lit(2147483647.0)).cast("long"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(col("rate"), 4).as("rate"))
        .orderBy(col("source").asc)
    },
      Some("""WITH counts AS (
           SELECT source, count(*) AS n_before FROM documents GROUP BY 1),
         cmin AS (SELECT min(n_before) AS c_min FROM counts),
         rates AS (
           SELECT source, n_before,
             least(1.0, sqrt(CAST(c_min AS DOUBLE) / CAST(n_before AS DOUBLE))) AS rate
           FROM counts, cmin),
         kept AS (
           SELECT d.source, count(*) AS n_kept
           FROM documents d JOIN rates r USING (source)
           WHERE ((d.doc_id % 2147483647) * 1103515245 + 12345) % 2147483647
                 < CAST(floor(r.rate * 2147483647.0) AS BIGINT)
           GROUP BY 1)
         SELECT r.source, r.n_before,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(r.rate, 4) AS rate
         FROM rates r LEFT JOIN kept k USING (source)
         ORDER BY source""")),

    Declared("cur4_split", (s, dir) =>
      // reproducible 80/10/10 train/valid/test split: assignment by an
      // overflow-safe avalanche hash (Shuffle.decisionHash — one
      // affine step is monotone below id ~35590 and put 100% of every
      // fixture corpus in "train"; the xorshift
      // rounds make threshold decisions uniform at every id range), so
      // any engine (and any rerun) reproduces the exact membership —
      // a seeded randomSplit cannot cross engines. The constants
      // (MINSTD 48271 / 11213) deliberately DIFFER from cur3's sampler
      // hash: with the same constants the split would be perfectly
      // correlated with the mixture keep-filter. Thresholds are
      // floor(0.8p)/floor(0.9p) for p = 2^31-1, hardcoded so both
      // sides agree to the integer.
      t(s, dir, "documents")
        .withColumn("h", Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
        .withColumn("split",
          when(col("h") < lit(1717986917L), lit("train"))
            .when(col("h") < lit(1932735282L), lit("valid"))
            .otherwise(lit("test")))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source").asc, col("split").asc),
      // the avalanche chain replays q47's proven xor/shift syntax with
      // the splitter's own constants
      Some("""WITH a AS (
           SELECT source, xor(doc_id, (doc_id >> 32) + 11213) AS t0
           FROM documents),
         b AS (
           SELECT source, ((t0 % 2147483647) * 48271 + 11213) % 2147483647 AS t1
           FROM a),
         c AS (
           SELECT source, (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1
           FROM b),
         h AS (
           SELECT source, (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS h
           FROM c)
         SELECT source,
           CASE WHEN h < 1717986917 THEN 'train'
                WHEN h < 1932735282 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs
         FROM h GROUP BY 1, 2 ORDER BY source, split""")),

    Declared("cur5_resample", (s, dir) => {
      // quality-weighted importance resampling: each doc survives with
      // probability equal to its quality score — the per-ROW-rate
      // counterpart to cur3's per-source rates (upweights clean text
      // without a hard threshold). Same deterministic avalanche-hash
      // sampler discipline (decisionHash: the pre-r13 single affine
      // step with the 69069 multiplier was monotone over the whole
      // fixture id range, making the keep decision correlate with
      // doc_id instead of being uniform); constants (69069/362437)
      // differ from BOTH cur3's sampler and cur4's splitter so the
      // three decisions are pairwise independent. Scan-side end to
      // end: score (fused kernel), hash, and keep-filter all fold
      // into the scan; only (source, counts) reach the one aggregate
      // shuffle.
      val docs = t(s, dir, "documents")
        .withColumn("q", textfns.qualityScore(col("text")))
        .withColumn("h", Shuffle.decisionHash(col("doc_id"), 69069L, 362437L))
      val kept = docs
        .filter(col("h") < floor(col("q") * lit(2147483647.0)).cast("long"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
          round(avg(col("q")), 4).as("avg_q_kept"))
      docs.groupBy("source").agg(count(lit(1)).as("n_before"),
          round(avg(col("q")), 4).as("avg_q_before"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("avg_q_before"), col("avg_q_kept"))
        .orderBy(col("source").asc)
    },
      Some("""WITH s AS (
           SELECT doc_id, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             len(regexp_extract_all(lower(text), '\b(the|of|and|to|in)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[.,;:!?]')) AS punct_hits,
             length(text) AS n_chars
           FROM documents),
         scored0 AS (
           SELECT doc_id, source,
             least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
               + (1.0 - least(CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) * 10.0, 1.0)) * 0.2 AS q,
             xor(doc_id, (doc_id >> 32) + 362437) AS t0
           FROM s),
         scored1 AS (
           SELECT doc_id, source, q,
             ((t0 % 2147483647) * 69069 + 362437) % 2147483647 AS t1
           FROM scored0),
         scored2 AS (
           SELECT doc_id, source, q,
             (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1
           FROM scored1),
         scored AS (
           SELECT doc_id, source, q,
             (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS h
           FROM scored2),
         kept AS (
           SELECT source, count(*) AS n_kept, round(avg(q), 4) AS avg_q_kept
           FROM scored WHERE h < CAST(floor(q * 2147483647.0) AS BIGINT)
           GROUP BY 1),
         base AS (
           SELECT source, count(*) AS n_before, round(avg(q), 4) AS avg_q_before
           FROM scored GROUP BY 1)
         SELECT b.source, b.n_before,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           b.avg_q_before, k.avg_q_kept
         FROM base b LEFT JOIN kept k USING (source)
         ORDER BY b.source""")),

    Declared("cur6_cluster_split", (s, dir) => {
      // LEAKAGE-PROOF split: cur4 hashes each doc_id, so two copies of
      // the same text can straddle train and eval — the eval number
      // then scores memorization. Here the assignment unit is the
      // duplicate CLUSTER: every doc hashes its cluster representative
      // (min id over the exact-dup component), so a whole duplicate
      // class lands in one split by construction; singletons use the
      // SAME constants as cur4 and split identically. The oracle
      // replays rep = min(doc_id) OVER (PARTITION BY normalized text)
      // — exact-dup clusters are SQL-expressible, which is why the
      // declared query uses them; LSH near-dup pairs plug into the
      // same leakageSafeSplit for the sub-1.0 tiers (spec-pinned).
      val d = docsWithExactDups(s, dir)
      val pairs = Dedup.exactDupMap(d, "text", "doc_id")
        .select(col("keep_id").as("id_a"), col("dup_id").as("id_b"))
      Dedup.leakageSafeSplit(d, "doc_id", pairs)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .orderBy(col("split").asc)
    },
      // exact-dup clusters are SQL-expressible (normalized-text groups,
      // the dd1 equivalence), so the leakage-proof split replays fully:
      // rep = min id over the text group, then cur4's affine hash on rep
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents),
         rep AS (
           -- null-text rows are each their OWN cluster (the Spark side
           -- keys them by their own id via fpOrOwnId); the 't:'/'id:'
           -- tags keep the two key spaces disjoint — a bare PARTITION
           -- BY would pool every NULL text into one cluster
           SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY CASE WHEN text IS NULL THEN 'id:' || doc_id
                 ELSE 't:' || lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) END) AS rep
           FROM all_docs),
         ha AS (SELECT rep, xor(rep, (rep >> 32) + 11213) AS t0 FROM rep),
         hb AS (SELECT rep, ((t0 % 2147483647) * 48271 + 11213) % 2147483647 AS t1 FROM ha),
         hc AS (SELECT rep, (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1 FROM hb),
         h AS (SELECT rep, (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS hv FROM hc)
         SELECT CASE WHEN hv < 1717986917 THEN 'train'
                     WHEN hv < 1932735282 THEN 'valid'
                     ELSE 'test' END AS split,
           count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
         FROM h GROUP BY 1 ORDER BY 1""")),

    Declared("cur6b_lsh_split", (s, dir) => {
      // the PRODUCTION route of the leakage-proof split: the cluster
      // pairs come from the LSH scale path (signatures shuffle, text
      // never does) instead of exact fingerprints. At threshold=1.0
      // the pair set is hash-seed-INDEPENDENT (the dd8 discipline:
      // identical shingle sets collide in every band and exact-Jaccard
      // verification keeps only set-equal pairs), so the split gets a
      // full oracle: DuckDB groups docs by their canonical shingle-SET
      // string — no class structure is assumed, the oracle computes
      // the same equivalence the engine does. Docs under shingleN
      // words have EMPTY sets, pair with nothing (Jaccard 0-on-empty
      // convention) and split as singletons on both sides; null-text
      // docs likewise. Sub-1.0 thresholds stay spec-pinned (LSH
      // recall is seeded there; a declared oracle would be flaky).
      val d = docsWithExactDups(s, dir)
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        shingleN = 7, k = 32, bands = 8, threshold = 1.0,
        spanning = true)
        .select(col("id_a"), col("id_b"))
      Dedup.leakageSafeSplit(d, "doc_id", pairs)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
        .orderBy(col("split").asc)
    },
      // LSH route at threshold 1.0: the cluster unit is the shingle-SET
      // equality class — the oracle canonicalizes each doc's distinct
      // 7-gram set to one sorted chr(1)-joined string and groups on it;
      // short (< 7 words) and null-text docs have no key and stay
      // singletons, exactly the engine's Jaccard-0-on-empty behavior
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         keys AS (
           SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS key
           FROM sh GROUP BY doc_id),
         rep AS (
           SELECT a.doc_id,
             min(a.doc_id) OVER (
               PARTITION BY CASE WHEN k.key IS NULL THEN 'id:' || a.doc_id
                 ELSE 'k:' || k.key END) AS rep
           FROM all_docs a LEFT JOIN keys k ON a.doc_id = k.doc_id),
         ha AS (SELECT rep, xor(rep, (rep >> 32) + 11213) AS t0 FROM rep),
         hb AS (SELECT rep, ((t0 % 2147483647) * 48271 + 11213) % 2147483647 AS t1 FROM ha),
         hc AS (SELECT rep, (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1 FROM hb),
         h AS (SELECT rep, (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS hv FROM hc)
         SELECT CASE WHEN hv < 1717986917 THEN 'train'
                     WHEN hv < 1932735282 THEN 'valid'
                     ELSE 'test' END AS split,
           count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
         FROM h GROUP BY 1 ORDER BY 1""")),

    Declared("txt14_pack", (s, dir) => {
      // sequence packing: docs concatenate in deterministic order
      // within their source shard and split at a fixed token budget; a
      // doc belongs to the sequence its FIRST token lands in (greedy
      // concat-then-split — the standard pretraining packing shape,
      // complementing txt11's per-doc chunking). Scale: embarrassingly
      // parallel per shard — ONE hash exchange on source, an in-shard
      // ordered cumsum window, no global order anywhere; at 100 TB
      // "source" is the shard key and shards pack independently.
      val budget = 256L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          textfns.wsTokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        // cum - n_tok < 2^53 ⇒ the double floor is exact
        .withColumn("seq_id",
          floor((col("cum") - col("n_tok")).cast("double") / budget).cast("long"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source").asc, col("seq_id").asc)
    },
      Some("""WITH d AS (
           SELECT doc_id, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
           FROM d)
         SELECT source,
           CAST(floor(CAST(cum - n_tok AS DOUBLE) / 256.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""")),

    Declared("txt15_decontam_bloom", (s, dir) => {
      // txt10's decontamination on the Bloom scale path: the benchmark
      // shingle sketch is built DISTRIBUTED (partial blooms OR-merge
      // map-side), corpus shingles probe it scan-side in codegen, and
      // survivors are exact-verified — so the output (and the oracle)
      // is row-identical to txt10 while the shuffle carries only the
      // bloom-surviving (id, shingle) pairs. Same planted fixture.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 5)
      val b0 = bench.filter(col("doc_id") === 0)
        .select(col("text").as("bench_text"))
      val spliced = d.filter(col("doc_id") % 20 === 0 && col("doc_id") >= 20)
        .crossJoin(broadcast(b0))
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(col("text"), lit(" "), col("bench_text")).as("text"))
      Decontam.contaminatedBloom(d.unionByName(spliced), bench, "doc_id", "text",
          threshold = 0.25, shingleN = 5, expectedItems = 1L << 20)
        .orderBy(col("doc_id").asc)
    },
      // the Bloom scale path is exact by construction (survivors are
      // verified against the true shingle set), so its oracle is
      // txt10's, verbatim
      Some(decontamOracle)),

    Declared("dd9_cross_dedup", (s, dir) => {
      // incremental-crawl dedup: drop from the corpus whatever a
      // reference corpus (here: every 10th doc, standing in for "the
      // existing training set") already contains. threshold=1.0 makes
      // the LSH path oracle-exact, as in dd8: shingle-set-equal pairs
      // are recalled with probability 1 at any signature size.
      // spanning=true collapses the reference side to one
      // representative per (bucket, set-fingerprint) — candidates stay
      // linear in corpus occupancy with NO bucketCap lift, and every
      // matched corpus id is still found (a match shares the
      // representative's fingerprint group by construction).
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = d.filter(col("doc_id") % 10 === 0)
      Dedup.crossDedup(d, ref, "doc_id", "text",
          shingleN = 7, k = 32, bands = 8, threshold = 1.0,
          spanning = true)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      Some(crossDedupOracle)),

    Declared("dd14_index_dedup", (s, dir) => {
      // dd9 through a PERSISTED signature index — the incremental
      // pipeline: the reference snapshot's signatures + fingerprints
      // + shingle sets are built once, written to parquet, read back,
      // and the crawl dedups against the index without ever touching
      // reference TEXT. Same parameters and SAME ORACLE as dd9: the
      // round-trip through parquet must be row-identical to the
      // text-side computation (the index path IS the text path
      // applied to a freshly built index — this query proves the
      // persisted round trip preserves that).
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = d.filter(col("doc_id") % 10 === 0)
      val tmp = java.nio.file.Files.createTempDirectory("graft_dd14")
      Dedup.buildSignatureIndex(ref, "doc_id", "text", shingleN = 7, k = 32)
        .write.mode("overwrite").parquet(s"$tmp/ref_index")
      val index = s.read.parquet(s"$tmp/ref_index")
      Dedup.crossDedupWithIndex(d, index, "doc_id", "text",
          shingleN = 7, k = 32, bands = 8, threshold = 1.0,
          spanning = true)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      // dd9 through the persisted signature index: same inputs, same
      // parameters, same contract: one oracle, two physical paths
      Some(crossDedupOracle)),

    Declared("dd15_containment", (s, dir) => {
      // asymmetric containment (quote/excerpt detection): every
      // doc_id%7==3 doc contributes a 12-word head QUOTE (+30000
      // ids) whose shingle set is a strict subset of its source —
      // containment 1.0 where Jaccard reads ~6/(n+6) and every
      // symmetric gate is blind by design (Broder's
      // resemblance-vs-containment distinction). Exact inverted-
      // index audit path (same join as dd4, hash-free, replayed
      // verbatim); the maxShingleDf cap is the 100 TB knob
      // (boilerplate shingles leave the index, containment becomes
      // a documented lower bound — spec-pinned, off here).
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val norm = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
      val quotes = d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 30000L).as("doc_id"),
          array_join(slice(norm, 1, 12), " ").as("text"))
      Dedup.containmentPairs(d.unionByName(quotes), "doc_id", "text",
          shingleN = 7, threshold = 0.9)
        .orderBy(col("id_sub").asc, col("id_sup").asc)
    },
      // the dd4 shingle machinery with the containment formula and the
      // min-set orientation; quotes are the head-12-word slices
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 30000, array_to_string(
             (regexp_split_to_array(
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))[1:12],
             ' ')
           FROM documents WHERE doc_id % 7 = 3),
         words AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS s
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 5)) AS i
                 FROM words WHERE len(w) >= 7)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
           FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b)
         SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_sub,
           CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_sup,
           n_inter, least(n_a, n_b) AS n_sub,
           CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
             AS containment
         FROM j
         WHERE CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.9
         ORDER BY id_sub, id_sup""")),

    Declared("dd10_char_dedup", (s, dir) => {
      // charLevel (CJK) dedup gate: whitespace shingling sees a CJK
      // doc as ONE word (zero shingles, recall silently zero) —
      // charLevel=true switches the whole pipeline to code-point
      // n-grams. threshold=1.0 + spanning keeps dd8's oracle-exactness
      // argument intact at the char granularity: equal char-shingle
      // SETS are recalled with probability 1 at any signature size,
      // and DuckDB replays set equality as distinct-substring sets
      // over the same lower/trim/collapse normalization — the result
      // is hash-seed-independent.
      val docs = cjkDocs(s)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 1.0,
        charLevel = true, spanning = true)
      Dedup.dedupNear(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      // charLevel dedup: the corpus is range()-constructed (see cjkDocs),
      // so the oracle rebuilds the identical CJK texts and replays
      // char-shingle-set equality as distinct-substring sets over the
      // same lower/trim/collapse-whitespace normalization, then the same
      // recursive-CC + min-id-survivor replay as dd8.
      Some("""WITH RECURSIVE ids AS (SELECT range AS i FROM range(400)),
         parts AS (
           SELECT i,
             translate(lpad(CAST(i % 40 AS VARCHAR), 4, '0'),
               '0123456789', '零一二三四五六七八九') AS p1,
             translate(lpad(CAST((i % 40) * 7 + 1 AS VARCHAR), 4, '0'),
               '0123456789', '零一二三四五六七八九') AS p2
           FROM ids),
         docs AS (
           SELECT i + 30000 AS doc_id,
             CASE ((i // 40) % 3)
               WHEN 1 THEN p1 || '  ' || p2
               WHEN 2 THEN '  ' || p1 || ' ' || p2 || ' '
               ELSE p1 || ' ' || p2 END AS text
           FROM parts),
         norm AS (
           SELECT doc_id,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
           FROM docs),
         sh AS (
           SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), 3) AS s
           FROM (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i
                 FROM norm WHERE length(t) >= 3)),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 1.0),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
         cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
         SELECT doc_id FROM docs
         WHERE doc_id NOT IN (SELECT id FROM cc WHERE cluster_id <> id)
         ORDER BY doc_id""")),

    Declared("dd11_lsh_recall", (s, dir) => {
      // MEASURED sub-threshold LSH recall gate (ann6 discipline applied
      // to dedup): dd2's planted-recall specs never put a recall NUMBER
      // in the correctness dump. Both sides use the SAME shingle
      // definition (7-grams — the near-linear exact-audit configuration,
      // see dd4) so the exact ngram-Jaccard pair set is a true oracle
      // for the LSH pair set at the same threshold; LSH output is a
      // SUBSET of it (candidates are exact-Jaccard-verified), so
      // pair_recall = |LSH| / |exact| measures exactly the band-collision
      // misses. k=128/bands=32 = dd2's production signature: r=4 rows
      // per band gives P(candidate) = 1-(1-s^4)^32 ≈ 0.87 at s=0.5,
      // →1 above. Rows-only: the number is seed-dependent; DedupSpec
      // pins the floor.
      val docs = docsWithNearDups(s, dir)
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 7, threshold = 0.5).select("id_a", "id_b")
      val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
          shingleN = 7, k = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          count(col("__hit")).as("n_lsh_pairs"),
          round(count(col("__hit")).cast("double") / count(lit(1)), 4)
            .as("pair_recall"))
        .select(lit("minhash_lsh_t05").as("method"),
          col("n_exact_pairs"), col("n_lsh_pairs"), col("pair_recall"))
    },
      None),

    Declared("dd12_dup_spans", (s, dir) =>
      // substring-LEVEL exact dedup (the repeated-passage view of
      // "deduplicating training data"): every 8-word sliding window
      // occurring ≥2 times corpus-wide marks its range; overlapping
      // ranges merge to maximal spans per doc. Document-level dedup
      // cannot see these — a doc sharing one boilerplate passage with
      // a thousand others is a near-duplicate of none of them. Text
      // never shuffles: windows travel as a 128-bit digest pair, the
      // interval merge is a per-doc window. Oracle replays windows via
      // the txt11 list-slice idiom, grouping on the raw window TEXT —
      // digest-vs-text grouping agreement is exactly the collision-
      // freedom claim, so a digest collision would fail the hash gate.
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          windowWords = 8, minOccurrences = 2L)
        .orderBy(col("doc_id").asc, col("span_start").asc),
      // windows replayed via the txt11 list-slice idiom; duplicate test
      // groups on the raw window TEXT where graft groups on a 128-bit
      // digest pair — agreement IS the collision-freedom claim. Interval
      // merge = textbook gaps-and-islands over running max end.
      Some("""WITH d AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         win AS (
           SELECT doc_id, s, array_to_string(w[(s+1):(s+8)], ' ') AS g
           FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - 7, 0))) AS s
                 FROM d)),
         dup AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
         hits AS (
           SELECT doc_id, s, s + 8 AS e FROM win JOIN dup USING (g)),
         m AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM hits),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
           FROM m)
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) AS span_words
         FROM isl GROUP BY doc_id, gid
         ORDER BY doc_id, span_start""")),

    Declared("txt18_dup_profile", (s, dir) => {
      // per-document duplication PROFILE: the curation metric on top
      // of dd12 — what fraction of each doc's words sit inside a
      // corpus-duplicated span (the "how boilerplate is this page"
      // score used to rank docs for pruning, vs dd12's span listing).
      // One extra aggregate over the span set; same digest-only scale
      // shape.
      val docs = t(s, dir, "documents")
      val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
          windowWords = 8, minOccurrences = 2L)
        .groupBy("doc_id").agg(sum(col("span_words")).as("dup_words"))
      val words = docs.select(col("doc_id"),
        size(split(textfns.normalizeText(col("text")), " ")).cast("long")
          .as("n_words"))
      words.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          coalesce(col("dup_words"), lit(0L)).as("dup_words"),
          round(coalesce(col("dup_words"), lit(0L)).cast("double") /
            col("n_words"), 4).as("dup_ratio"))
        .orderBy(col("doc_id").asc)
    },
      Some("""WITH d AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         win AS (
           SELECT doc_id, s, array_to_string(w[(s+1):(s+8)], ' ') AS g
           FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - 7, 0))) AS s
                 FROM d)),
         dup AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
         hits AS (
           SELECT doc_id, s, s + 8 AS e FROM win JOIN dup USING (g)),
         m AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM hits),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
           FROM m),
         spans AS (
           SELECT doc_id, min(s) AS s0, max(e) AS e0
           FROM isl GROUP BY doc_id, gid),
         agg AS (
           SELECT doc_id, CAST(sum(e0 - s0) AS BIGINT) AS dup_words
           FROM spans GROUP BY 1),
         wc AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM d)
         SELECT wc.doc_id, n_words,
           coalesce(dup_words, 0) AS dup_words,
           round(coalesce(dup_words, 0) / CAST(n_words AS DOUBLE), 4) AS dup_ratio
         FROM wc LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""")),

    Declared("ann8_filtered", (s, dir) => {
      // metadata-FILTERED exact vector search: each query retrieves
      // only within its own label class (the "nearest neighbors in
      // this language/license/source" shape). Post-filtering a global
      // top-k loses neighbors for rare classes; this is one corpus
      // scan with per-class query buckets + bounded heaps. Quantized
      // scoring ⇒ bit-identical to the SQL twin, so the oracle is
      // ann1's replay with the label join predicate added.
      val emb = t(s, dir, "embeddings")
      Ann.filteredTopK(emb, emb.filter(col("vec_id") < 20), k = 5,
          matchCols = Seq("label"), quantized = true)
        .select("query_id", "rank", "neighbor_id", "score")
        .orderBy(col("query_id").asc, col("rank").asc)
    },
      Some("""WITH q AS (
           SELECT vec_id AS query_id, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qq
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS neighbor_id, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
             CAST(list_dot_product(qv, qq) AS DOUBLE) AS d,
             CAST(list_dot_product(qv, qv) AS DOUBLE) AS na,
             CAST(list_dot_product(qq, qq) AS DOUBLE) AS nb
           FROM c JOIN q ON c.label = q.label
           WHERE neighbor_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor_id,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE sign(d) * d * d / (na * nb) END AS score
           FROM scored),
         top AS (
           SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
           FROM ranked)
         SELECT query_id, rank, neighbor_id, score FROM top
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    Declared("txt17_bpe", (s, dir) => {
      // real subword tokenization: train 20 BPE merges on the corpus
      // (deterministic — count argmax with lexicographic tie-break, no
      // seeds), tokenize scan-side with the broadcast merge table,
      // return the token frequency head. Rows-only: replaying 20
      // rounds of distributed pair-merge training in SQL is not a
      // reasonable oracle; BpeSpec instead pins the distributed
      // trainer EQUAL to a local reference implementation, plus
      // encode round-trip and determinism contracts.
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 20)
      Bpe.encode(docs, "doc_id", "text", merges)
        .select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)
    },
      None),

    Declared("cur8_embed_outliers", (s, dir) => {
      // embedding data-quality gate: plant 10 corrupt vectors (a far
      // constant offset — a broken encoder emitting saturated values)
      // among the natural corpus; per-CELL distance z-scores against
      // the BASELINE-trained quantizer must flag exactly the planted
      // rows at z>3. Baseline training is the point: a coherent batch
      // of corruption in the scored frame is big enough to capture
      // its own k-means cell and score z≈0 against itself (the
      // masking failure, spec-pinned) — centroids AND moments here
      // come from the clean corpus. Rows-only (centroid seeds);
      // DedupSpec pins planted precision/recall = 1.0.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corrupt = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 50000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
      Dedup.embeddingOutliers(emb.unionByName(corrupt), "vec_id", "embedding",
          nCells = 16, zThreshold = 3.0, trainOn = emb)
        .filter(col("is_outlier"))
        .select(col("id"))
        .orderBy(col("id").asc)
    },
      None),

    Declared("dd13_semantic_dedup", (s, dir) => {
      // SemDeDup-style cluster-scoped semantic dedup: k-means cells +
      // within-cell distance-ordered window verify. Same planted-twin
      // shape as dd5 — but where dd5's SRP buckets can split a pair
      // straddling a random hyperplane, identical twins ALWAYS share
      // a k-means cell at identical centroid distance. Rows-only
      // (centroid seeds); planted recall + no-false-positive floor
      // pinned in DedupSpec.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      Dedup.semanticDupPairs(emb.unionByName(twins), "vec_id", "embedding",
          nCells = 16, threshold = 0.99, windowSize = 6)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("q51_zorder", (s, dir) =>
      // Z-order (Morton) layout key: the write-side data-skipping
      // lever — interleaving the bits of two predicate columns gives
      // every written file a small bounding BOX of both, where a
      // linear sort leaves the second column's min/max envelope
      // full-width in every file (LayoutSpec measures the areas; this
      // query pins the raw bit-interleave math engine-for-engine —
      // the oracle rebuilds the identical 32-term expression).
      g(s, dir, "lineitem")
        .mutate(
          "p" -> col("l_partkey") % 256,
          "sm" -> col("l_suppkey") % 256)
        .mutate("zkey" -> Layout.mortonKey(col("p"), col("sm"), 8))
        .select("l_orderkey", "l_linenumber", "p", "sm", "zkey")
        .arrange(asc("zkey"), asc("l_orderkey"), asc("l_linenumber"),
          asc("p"), asc("sm"))
        .df,
      // the 32-term interleave is generated from the same (j → positions
      // 2j / 2j+1) rule the engine expression uses — one source of truth
      // per engine, agreement pinned per row by the hash gate
      Some {
        val terms = (0 until 8).flatMap(j => Seq(
          s"(((p >> $j) & 1) << ${2 * j})",
          s"(((sm >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")
        s"""WITH m AS (
           SELECT l_orderkey, l_linenumber,
             l_partkey % 256 AS p, l_suppkey % 256 AS sm
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, p, sm,
           ($terms) AS zkey
         FROM m
         ORDER BY zkey, l_orderkey, l_linenumber, p, sm"""
      }),

    Declared("q52_fuzzy_join", (s, dir) => {
      // edit-distance similarity self-join on the part-name vocabulary
      // (entity resolution): all name pairs within levenshtein 2, via
      // PassJoin segment filtering — k+1 segments, pigeonhole says a
      // within-k pair agrees exactly on one segment, so candidates
      // come from ONE equi-join on (segment index, length, gram) keys
      // instead of the name cross-product; exact verify then only
      // discards. Sound + complete (spec pins equality with all-pairs
      // ground truth); DuckDB replays the quadratic definition.
      val names = g(s, dir, "part")
        .selectExpr2("name" -> lower(col("p_name"))).distinct_().df
      graft.operators.FuzzyJoin.selfPairs(names, "name", "name", maxDistance = 2)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("distance"))
        .orderBy(col("name_a").asc, col("name_b").asc)
    },
      Some("""WITH nm AS (SELECT DISTINCT lower(p_name) AS name FROM part)
         SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
         FROM nm a JOIN nm b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""")),

    Declared("cur7_stratified", (s, dir) =>
      // deterministic stratified fixed-size sample: exactly
      // min(5, |source|) docs per source, membership = the 5 smallest
      // avalanche-hash values (own constants 16807/49297, pairwise
      // independent of the cur3/cur4/cur5/q47 hashes) with id
      // tiebreak. Rides the BoundedTopK partial aggregate — ≤5
      // candidate rows per (task, stratum) shuffle, never a
      // stratum-wide window sort. The oracle replays the xor-chain
      // hash and row_number()s per stratum.
      Shuffle.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "source", "lang"),
          Seq("source"), "doc_id", n = 5)
        .select("source", "doc_id", "lang")
        .orderBy(col("source").asc, col("doc_id").asc),
      Some("""WITH a AS (
           SELECT doc_id, source, lang,
             xor(doc_id, (doc_id >> 32) + 49297) AS t0
           FROM documents),
         b AS (
           SELECT doc_id, source, lang,
             ((t0 % 2147483647) * 16807 + 49297) % 2147483647 AS t1
           FROM a),
         c AS (
           SELECT doc_id, source, lang,
             (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS h1
           FROM b),
         h AS (
           SELECT doc_id, source, lang,
             (xor(h1, h1 >> 13) * 22695477 + 77557187) % 2147483647 AS hh
           FROM c),
         r AS (
           SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
           FROM h)
         SELECT source, doc_id, lang FROM r WHERE rk <= 5
         ORDER BY source, doc_id""")),

    Declared("q54_fuzzy_dedup", (s, dir) => {
      // entity-resolution dedup (the q52 pairs made actionable): one
      // surviving representative — the min-id member — per connected
      // component of the within-2-levenshtein name graph, the dd7
      // pairs → clusters → survivors shape over FuzzyJoin's SPANNING
      // pair subset (linear in duplication: identical strings collapse
      // to one representative before segment emission, so a
      // boilerplate name repeated 10k times costs one probe row, not
      // 10k² candidate pairs). The oracle replays the quadratic pair
      // definition and min-label reachability in a recursive CTE.
      val names = t(s, dir, "part")
        .groupBy(lower(col("p_name")).as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.operators.FuzzyJoin.fuzzyDedup(names, "id", "name", maxDistance = 2)
        .select(col("id"), col("name"))
        .orderBy(col("id").asc)
    },
      // connected components are SQL-expressible via recursive min-label
      // reachability: r enumerates (node, reachable id) over the
      // symmetric close-pair edge set, min(lab) is the component minimum
      // — a survivor is a name whose component minimum is its own id
      Some("""WITH RECURSIVE nm AS (
           SELECT lower(p_name) AS name, min(p_partkey) AS id
           FROM part GROUP BY 1),
         e AS (
           SELECT a.id AS src, b.id AS dst FROM nm a JOIN nm b
           ON a.id <> b.id AND levenshtein(a.name, b.name) <= 2),
         r(id, lab) AS (
           SELECT id, id FROM nm
           UNION
           SELECT e.dst, r.lab FROM r JOIN e ON r.id = e.src),
         cc AS (SELECT id, min(lab) AS lab FROM r GROUP BY id)
         SELECT nm.id AS id, nm.name AS name
         FROM nm JOIN cc ON nm.id = cc.id
         WHERE cc.lab = nm.id
         ORDER BY id""")),

    Declared("cur9_profile", (s, dir) =>
      // column-level data profiling (the pre-training data-quality
      // gate): null rates, exact cardinalities and value ranges for
      // six heterogeneous orders columns in ONE aggregate pass, tidied
      // to a row per column. Exact-distinct mode here (oracle-
      // replayable; Spark plans it via Expand) — the approxDistinct
      // flag keeps the 100 TB form single-scan with HLL++.
      graft.operators.Profiler.columnStats(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name").asc),
      Some("""WITH s AS (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             count(o_orderkey) AS n_nonnull,
             count(*) - count(o_orderkey) AS n_null,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS min_value,
             CAST(max(o_orderkey) AS VARCHAR) AS max_value
           FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(o_custkey),
             count(*) - count(o_custkey), count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(o_orderstatus),
             count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
             CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*), count(o_totalprice),
             count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*), count(o_orderdate),
             count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
             CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*), count(o_orderpriority),
             count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
             CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
           FROM orders)
         SELECT * FROM s ORDER BY col_name""")),

    Declared("cur10_drift", (s, dir) => {
      // distribution drift (PSI) between a base snapshot and a
      // planted 15%-inflated current snapshot of o_totalprice — the
      // production "did the new shard shift the distribution" gate.
      // Equi-width bins over the BASE range by pure floor arithmetic
      // (identical IEEE ops both engines), epsilon-floored
      // proportions, one-row output. The planted shift must register
      // (psi > 0.1, spec-pinned); identical snapshots give ~0.
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.psiDrift(
          orders.select(col("o_totalprice")),
          orders.select((col("o_totalprice") * 1.15).as("o_totalprice")),
          "o_totalprice", nBins = 10)
    },
      Some("""WITH bounds AS (
           SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
         bb AS (
           SELECT least(greatest(CAST(floor(
             (o_totalprice - lo) / ((hi - lo) / 10)) AS INTEGER), 0), 9) AS bin
           FROM orders, bounds),
         cc AS (
           SELECT least(greatest(CAST(floor(
             (o_totalprice * 1.15 - lo) / ((hi - lo) / 10)) AS INTEGER), 0), 9) AS bin
           FROM orders, bounds),
         bins AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS bin),
         bcnt AS (SELECT bin, count(*) AS n_base FROM bb GROUP BY 1),
         ccnt AS (SELECT bin, count(*) AS n_cur FROM cc GROUP BY 1),
         j AS (
           SELECT bins.bin, coalesce(n_base, 0) AS n_base,
             coalesce(n_cur, 0) AS n_cur
           FROM bins LEFT JOIN bcnt USING (bin) LEFT JOIN ccnt USING (bin)),
         t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         SELECT round(sum((pb - pc) * ln(pb / pc)), 6) AS psi,
           CAST(sum(n_base) AS BIGINT) AS n_base,
           CAST(sum(n_cur) AS BIGINT) AS n_cur
         FROM (SELECT greatest(n_base / tb, 0.0001) AS pb,
                 greatest(n_cur / tc, 0.0001) AS pc, n_base, n_cur
               FROM j, t)""")),

    Declared("cur11_ks", (s, dir) => {
      // exact two-sample Kolmogorov-Smirnov drift between the base
      // order-price snapshot and a planted 5%-inflated one — the
      // binning-free companion gate to cur10. The statistic is a max
      // over |k/n - j/m| with exact integer cumulative counts from
      // the distributed range-partitioned prefix-sum CDF, so the
      // oracle replays it bit-for-bit (only the final 6dp round
      // touches float formatting).
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.ksDrift(
          orders.select(col("o_totalprice")),
          orders.select((col("o_totalprice") * 1.05).as("o_totalprice")),
          "o_totalprice")
    },
      Some("""WITH d AS (
           SELECT v, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT o_totalprice AS v, 1 AS b, 0 AS c FROM orders
             UNION ALL
             SELECT o_totalprice * 1.05 AS v, 0 AS b, 1 AS c FROM orders) u
           GROUP BY v),
         r AS (
           SELECT
             sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
             sum(cc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc
           FROM d),
         t AS (SELECT sum(cb) AS nb, sum(cc) AS nc FROM d)
         SELECT round(max(abs(cumb / nb - cumc / nc)), 6) AS ks,
           CAST(max(nb) AS BIGINT) AS n_base, CAST(max(nc) AS BIGINT) AS n_cur
         FROM r, t""")),

    Declared("cur12_cat_drift", (s, dir) => {
      // categorical drift on the order-priority mix: the current
      // snapshot deterministically remaps every orderkey % 5 == 0 row
      // to 1-URGENT (~20% of the mass migrates). topK=3 exercises the
      // __other__ fold over the remaining two priorities; sum of
      // jsd_term is the Jensen-Shannon divergence between the mixes.
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.categoricalDrift(
          orders.select(col("o_orderpriority")),
          orders.select(
            when(col("o_orderkey") % 5 === 0, lit("1-URGENT"))
              .otherwise(col("o_orderpriority")).as("o_orderpriority")),
          "o_orderpriority", topK = 3)
    },
      Some("""WITH d AS (
           SELECT cat, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT o_orderpriority AS cat, 1 AS b, 0 AS c FROM orders
             UNION ALL
             SELECT CASE WHEN o_orderkey % 5 = 0 THEN '1-URGENT'
                         ELSE o_orderpriority END, 0, 1 FROM orders) u
           GROUP BY cat),
         top AS (SELECT cat FROM d ORDER BY cb DESC, cat ASC LIMIT 3),
         m AS (
           SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat
                       ELSE '__other__' END AS category,
             sum(cb) AS nb, sum(cc) AS nc
           FROM d GROUP BY 1),
         t AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM m)
         SELECT category,
           CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
           round(nb / tb, 6) AS p_base, round(nc / tc, 6) AS p_cur,
           round((CASE WHEN nb = 0 THEN 0.0
                       ELSE (nb / tb) * ln((nb / tb) / ((nb / tb + nc / tc) / 2)) END
                + CASE WHEN nc = 0 THEN 0.0
                       ELSE (nc / tc) * ln((nc / tc) / ((nb / tb + nc / tc) / 2)) END)
                 * 0.5, 6) AS jsd_term
         FROM m, t ORDER BY category""")),

    Declared("q55_fuzzy_link", (s, dir) => {
      // record linkage ACROSS catalogs: the part names vs a second
      // catalog whose keys lost their two leading characters
      // (truncation/OCR drift) — every (left, right) pair within
      // levenshtein 2, via the asymmetric PassJoin plan (left = probe
      // segments, right = candidate windows; pigeonhole on the LEFT
      // segmentation covers every pair — see FuzzyJoin.linkPairs).
      // Each side collapses to distinct strings pre-join; equal
      // strings across tables match at distance 0. DuckDB replays the
      // quadratic cross-table definition.
      val l = t(s, dir, "part")
        .groupBy(lower(col("p_name")).as("name"))
        .agg(min(col("p_partkey")).as("id"))
      val r = t(s, dir, "part")
        .groupBy(expr("substring(lower(p_name), 3)").as("name"))
        .agg((min(col("p_partkey")) + 100000L).as("id"))
      graft.operators.FuzzyJoin.linkPairs(
          l, "id", "name", r, "id", "name", maxDistance = 2)
        .orderBy(col("id_l").asc, col("id_r").asc)
    },
      Some("""WITH l AS (
           SELECT lower(p_name) AS name, min(p_partkey) AS id
           FROM part GROUP BY 1),
         r AS (
           SELECT substring(lower(p_name), 3) AS name,
             min(p_partkey) + 100000 AS id
           FROM part GROUP BY 1)
         SELECT l.id AS id_l, r.id AS id_r,
           CAST(levenshtein(l.name, r.name) AS INTEGER) AS distance
         FROM l JOIN r ON levenshtein(l.name, r.name) <= 2
         ORDER BY id_l, id_r""")),

    Declared("txt20_bm25", (s, dir) =>
      // BM25 ranked retrieval (corpus-inspection search): top 20 docs
      // for a 3-term query — one rare term ('dup') for IDF spread.
      // One corpus scan feeds the term-filtered tf aggregate (the
      // scan-side term filter cuts the explode stream to query terms
      // before anything shuffles); (N, avgdl) is a scalar map-side
      // aggregate; df derives from the query-sized tf frame. Rounded
      // 4dp then ranked, so boundary ties are deterministic across
      // engines (the txt8 ln-parity discipline).
      Search.bm25TopDocs(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "spark", "window"), topN = 20)
        .orderBy(col("score").desc, col("doc_id").asc),
      Some("""WITH d AS (
           SELECT doc_id, list_filter(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
             x -> x <> '') AS w
           FROM documents),
         dl AS (SELECT doc_id, len(w) AS len FROM d WHERE len(w) > 0),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(len) AS avgdl FROM dl),
         toks AS (SELECT doc_id, unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('dup', 'spark', 'window') GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT tf.doc_id,
             round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
               (tf * 2.2) /
               (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / avgdl))), 4) AS score
           FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats
           GROUP BY tf.doc_id)
         SELECT doc_id, score FROM sc
         ORDER BY score DESC, doc_id LIMIT 20""")),

    Declared("txt21_term_search", (s, dir) => {
      // boolean AND search through a PERSISTED inverted index: posting
      // ROWS (term, doc_id) round-trip parquet (never per-term arrays
      // — a stopword's postings are billions of rows at scale, fine
      // as rows, fatal as one array), term predicate pushed to the
      // index scan, then one query-sized count-distinct-terms filter.
      val d = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_txt21")
      Search.invertedIndex(d, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/index")
      Search.andSearch(s.read.parquet(s"$tmp/index"),
          Seq("dup", "spark", "window"))
        .orderBy(col("doc_id").asc)
    },
      Some("""WITH w AS (
           SELECT doc_id, unnest(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
           FROM documents),
         w2 AS (SELECT DISTINCT doc_id, term FROM w WHERE term <> '')
         SELECT doc_id FROM w2
         WHERE term IN ('dup', 'spark', 'window')
         GROUP BY doc_id HAVING count(*) = 3
         ORDER BY doc_id""")),

    Declared("txt19_grouped_hh", (s, dir) =>
      // per-SOURCE heavy hitters: each source's own frequent words at
      // its own threshold (0.5% of the source's word count) — the
      // per-domain boilerplate-candidate primitive. Same
      // sketch-then-verify exactness as txt16, sketch keyed per
      // group: one grouped Misra-Gries aggregate (long tail never
      // shuffles), candidates + group totals broadcast back, exact
      // counts thresholded per group. Oracle replays it as a plain
      // grouped HAVING against the per-source totals.
      Freq.groupedHeavyHitters(
          t(s, dir, "documents")
            .select(col("source"),
              explode(split(
                lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
                .as("word"))
            .filter(col("word") =!= ""),
          groupCols = Seq("source"), itemCol = "word",
          minFraction = 0.005, estimatedGroups = 64)
        .orderBy(col("source").asc, col("n").desc, col("word").asc),
      Some("""WITH words AS (
           SELECT source, unnest(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
           FROM documents),
         w AS (SELECT source, word FROM words WHERE word <> ''),
         t AS (SELECT source, count(*) AS n_grp FROM w GROUP BY source)
         SELECT w.source AS source, w.word AS word,
           CAST(count(*) AS BIGINT) AS n
         FROM w JOIN t ON w.source IS NOT DISTINCT FROM t.source
         GROUP BY w.source, w.word, t.n_grp
         HAVING count(*) >= ceil(t.n_grp * 0.005)
         ORDER BY source, n DESC, word""")),

    Declared("txt23_collocations", (s, dir) =>
      // corpus collocation mining: adjacent pairs co-occurring beyond
      // their unigram expectation, ranked by LIFT (= e^PMI — monotone
      // with PMI, but exact: integer counts, decimal products, ONE
      // double division, no transcendental anywhere the oracle could
      // diverge on). Bigrams assemble scan-side via zip_with — no
      // posexplode self-join — and the only corpus-cardinality work
      // is one map-side-combined groupBy(w1, w2); marginals and N
      // re-aggregate the distinct-bigram digest table.
      graft.operators.Freq.collocations(t(s, dir, "documents"), "text",
          minCount = 20L)
        .orderBy(col("w1").asc, col("w2").asc),
      // exact integer lift: DuckDB's sums are HUGEINT (the engine's are
      // decimal(38,0)); one double division closes it — marginals from
      // the UNFILTERED bigram table, cast to BIGINT for schema parity
      Some("""WITH w AS (
           SELECT regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM documents),
         b0 AS (
           SELECT w[i] AS w1, w[i + 1] AS w2
           FROM (SELECT w, unnest(range(1, len(w))) AS i
                 FROM w WHERE len(w) >= 2)),
         bg AS (SELECT w1, w2, count(*) AS n_ab FROM b0
                WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
         nn AS (SELECT sum(n_ab) AS n FROM bg),
         lm AS (SELECT w1, sum(n_ab) AS n_a FROM bg GROUP BY 1),
         rm AS (SELECT w2, sum(n_ab) AS n_b FROM bg GROUP BY 1)
         SELECT bg.w1, bg.w2, bg.n_ab,
           CAST(lm.n_a AS BIGINT) AS n_a, CAST(rm.n_b AS BIGINT) AS n_b,
           CAST(bg.n_ab * (SELECT n FROM nn) AS DOUBLE)
             / CAST(lm.n_a * rm.n_b AS DOUBLE) AS lift
         FROM bg JOIN lm USING (w1) JOIN rm USING (w2)
         WHERE bg.n_ab >= 20
         ORDER BY bg.w1, bg.w2""")),

    Declared("txt24_keywords", (s, dir) =>
      // per-document keyword extraction: top-3 TF-IDF terms per doc
      // (txt8's scoring, rounded 4dp BEFORE ranking so boundary ranks
      // are engine-deterministic), window-ranked PARTITIONED BY DOC —
      // each partition is one doc's vocabulary, so the sort
      // parallelizes across docs with no hot-group risk.
      graft.operators.Search.tfidfKeywords(t(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id").asc, col("kw_rank").asc),
      // txt8's scoring replayed per doc, ranked on the ROUNDED score
      // (identical 4dp grids on both engines) with the term tie-break
      Some("""WITH words AS (
           SELECT doc_id, unnest(regexp_split_to_array(
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM words
                WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
               / CAST(dfq.df AS DOUBLE)), 4) AS tfidf
           FROM tf JOIN dfq USING (term)),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term ASC) AS INTEGER) AS kw_rank
           FROM sc)
         SELECT doc_id, term, tf, tfidf, kw_rank FROM r
         WHERE kw_rank <= 3
         ORDER BY doc_id, kw_rank""")),

    Declared("txt22_contam_spans", (s, dir) => {
      // span-LOCALIZED decontamination: WHERE each doc leaks the
      // benchmark (docs 0-4), as maximal merged 8-word-window spans —
      // the production remedy cuts the quoted window, not the whole
      // doc (txt10's doc-level ratio can neither keep the clean 95%
      // of a long doc nor find the leak to cut). Planted leaks: bench
      // doc 0's text APPENDED to every 20th doc (+20000 ids) and
      // bench doc 1's PREPENDED to every doc_id%20==7 (+30000 ids) —
      // spans must land at the tail resp. head word offsets; bench
      // docs themselves (they are corpus members) must come back as
      // one full-coverage span. Text never shuffles: bench window
      // digests broadcast, corpus windows travel as the dd12 digest
      // pair, the interval merge is a per-doc window. The oracle
      // groups on raw window TEXT — digest-vs-text agreement is the
      // 128-bit collision-freedom claim, as in dd12.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") < 5)
      val b0 = bench.filter(col("doc_id") === 0)
        .select(col("text").as("bench_text"))
      val b1 = bench.filter(col("doc_id") === 1)
        .select(col("text").as("bench_text"))
      val appended = d.filter(col("doc_id") % 20 === 0 && col("doc_id") >= 20)
        .crossJoin(broadcast(b0))
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(col("text"), lit(" "), col("bench_text")).as("text"))
      val prepended = d.filter(col("doc_id") % 20 === 7)
        .crossJoin(broadcast(b1))
        .select((col("doc_id") + 30000L).as("doc_id"),
          concat(col("bench_text"), lit(" "), col("text")).as("text"))
      Decontam.contaminatedSpans(
          d.unionByName(appended).unionByName(prepended), bench,
          "doc_id", "text", windowWords = 8)
        .orderBy(col("doc_id").asc, col("span_start").asc)
    },
      // span-level decontamination replays the dd12 window/islands
      // idiom with the probe side swapped from "≥2 occurrences
      // corpus-wide" to "occurs in the benchmark docs" — grouping on
      // raw window text vs the engine's digest pair is the same
      // collision-freedom claim dd12 makes
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT d.doc_id + 20000, d.text || ' ' || b.text
           FROM documents d, (SELECT text FROM documents WHERE doc_id = 0) b
           WHERE d.doc_id % 20 = 0 AND d.doc_id >= 20
           UNION ALL
           SELECT d.doc_id + 30000, b.text || ' ' || d.text
           FROM documents d, (SELECT text FROM documents WHERE doc_id = 1) b
           WHERE d.doc_id % 20 = 7),
         d AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
           FROM all_docs),
         win AS (
           SELECT doc_id, s, array_to_string(w[(s+1):(s+8)], ' ') AS g
           FROM (SELECT doc_id, w,
                   unnest(range(0, greatest(len(w) - 7, 0))) AS s
                 FROM d)),
         bw AS (SELECT DISTINCT g FROM win WHERE doc_id < 5),
         hits AS (
           SELECT doc_id, s, s + 8 AS e FROM win JOIN bw USING (g)),
         m AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM hits),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
           FROM m)
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) AS span_words
         FROM isl GROUP BY doc_id, gid
         ORDER BY doc_id, span_start""")),

    Declared("ann12_knn_classify", (s, dir) => {
      // k-NN label propagation: each query labeled by majority vote
      // of its 10 nearest corpus neighbors — the semi-supervised
      // curation baseline (hand labels fan out through embedding
      // space). Quantized scoring (the ann1 bit-parity contract)
      // makes neighbor sets engine-identical; ties resolve by
      // (votes desc, best-rank asc, label asc), all deterministic,
      // so the oracle replays membership AND the vote.
      val emb = t(s, dir, "embeddings")
      graft.similarity.Ann.knnClassify(emb,
          emb.filter(col("vec_id") < 20).select("vec_id", "embedding"),
          k = 10)
        .orderBy(col("query_id").asc)
    },
      // the ann1 quantized-scoring replay + labeled vote: membership,
      // votes, best rank and the three-key tie-break are all exact
      Some("""WITH q AS (
           SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qq
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS neighbor_id, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, label,
             CAST(list_dot_product(qv, qq) AS DOUBLE) AS d,
             CAST(list_dot_product(qv, qv) AS DOUBLE) AS na,
             CAST(list_dot_product(qq, qq) AS DOUBLE) AS nb
           FROM c, q WHERE neighbor_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor_id, label,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE sign(d) * d * d / (na * nb) END AS score
           FROM scored),
         top AS (
           SELECT query_id, neighbor_id, label,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM ranked),
         votes AS (
           SELECT query_id, label,
             CAST(count(*) AS BIGINT) AS votes,
             CAST(min(rank) AS INTEGER) AS best_rank
           FROM top WHERE rank <= 10 AND label IS NOT NULL
           GROUP BY 1, 2),
         win AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY votes DESC, best_rank ASC, label ASC) AS rn
           FROM votes)
         SELECT query_id, label, votes, best_rank FROM win
         WHERE rn = 1 ORDER BY query_id""")),

    Declared("cur22_standardize", (s, dir) => {
      // per-type z-scoring: every event value annotated with its
      // type's mean, population σ and z — the cross-group
      // comparability step. Exact decimal sufficient statistics +
      // a FIXED sequence of IEEE steps (one division, one sqrt —
      // correctly rounded by both engines — one subtraction, one
      // division), so mean/sd/z replay bit-for-bit.
      graft.operators.Profiler.standardizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"))
        .orderBy(col("event_id").asc)
    },
      // exact HUGEINT sufficient statistics, then the identical IEEE
      // step sequence: mean = Σx/(n·scale); σ = √((nΣx²−(Σx)²)/n²)/scale;
      // z on the quantized grid — replays bit-for-bit (sqrt is
      // correctly rounded on both engines)
      Some("""WITH q AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n, sum(vq) AS sx,
             sum(vq * vq) AS sxx
           FROM q WHERE value IS NOT NULL GROUP BY 1)
         SELECT q.event_id, q.event_type, q.value,
           CAST(sx AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS mean,
           sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             / CAST(n * n AS DOUBLE)) / 100.0 AS sd,
           CASE WHEN q.value IS NULL OR n * sxx - sx * sx = 0 THEN NULL
                ELSE (CAST(vq AS DOUBLE)
                    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    / CAST(n * n AS DOUBLE))
           END AS z
         FROM q LEFT JOIN s USING (event_type)
         ORDER BY q.event_id""")),

    Declared("ann11_sem_decontam", (s, dir) => {
      // EMBEDDING-level decontamination: training vectors whose best
      // quantized cosine against the benchmark set (vec_id < 20)
      // clears the threshold — the semantic screen that catches
      // paraphrased test leakage n-gram probes (txt10/txt15/txt22)
      // cannot see. Benchmark broadcasts, corpus streams through one
      // shuffle-free scan, output is flagged-only; the ann1 quantized
      // arithmetic makes every (id, best bench, score) row replay.
      val emb = t(s, dir, "embeddings")
      Decontam.semantic(emb.filter(col("vec_id") >= 20),
          emb.filter(col("vec_id") < 20), threshold = 0.1)
        .orderBy(col("vec_id").asc)
    },
      // margin mining: the full cosq matrix is quadratic HERE (the
      // oracle's job is the definition, not the plan); cq is
      // floor(cos·1e6 + 0.5) — floor, not round, because round-half
      // semantics differ across engines at negative halves — and the
      // margin is one double division of exact BIGINTs, so value AND
      // best-benchmark-match per corpus vector (score DESC, bench ASC
      // row_number), threshold filter — the ann1 quantized arithmetic
      Some("""WITH q AS (
           SELECT vec_id AS bench_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qq
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings WHERE vec_id >= 20),
         scored AS (
           SELECT c.vec_id, q.bench_id,
             CAST(list_dot_product(qv, qq) AS DOUBLE) AS d,
             CAST(list_dot_product(qv, qv) AS DOUBLE) AS na,
             CAST(list_dot_product(qq, qq) AS DOUBLE) AS nb
           FROM c, q),
         ranked AS (
           SELECT vec_id, bench_id,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE sign(d) * d * d / (na * nb) END AS score,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY CASE WHEN na = 0 OR nb = 0 THEN 0.0
                 ELSE sign(d) * d * d / (na * nb) END DESC,
                 bench_id ASC) AS rn
           FROM scored)
         SELECT vec_id, bench_id, score FROM ranked
         WHERE rn = 1 AND score >= 0.1 ORDER BY vec_id""")),

    Declared("ann10_margin_mine", (s, dir) => {
      // margin-based nearest-match mining (ratio margin, Artetxe &
      // Schwenk 2019): best corpus match per query by cosine
      // normalized against BOTH endpoints' k-NN neighborhoods — the
      // hub-suppressing pair miner (bitext mining, cross-dump record
      // matching) that a raw cosine threshold gets wrong. One corpus
      // scan: micro-quantized cosines feed per-query forward heaps
      // AND the per-row backward top-k statistic; the margin is one
      // double division of exact integers, so DuckDB replays value
      // and rank order bit-for-bit.
      val emb = t(s, dir, "embeddings")
      Ann.marginMine(emb, emb.filter(col("vec_id") < 20), k = 4,
          minMargin = 1.0)
        .orderBy(col("query_id").asc)
    },
      // rank order replay bit-for-bit
      Some("""WITH q AS (
           SELECT vec_id AS qid,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS cv
           FROM embeddings),
         cosq AS (
           SELECT qid, cid,
             CASE WHEN list_dot_product(cv, cv) = 0 OR list_dot_product(qv, qv) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(list_dot_product(cv, qv) AS DOUBLE)
                    / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE))
                       * sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) END AS cq
           FROM c, q WHERE cid <> qid),
         fwd AS (
           SELECT qid, cid, cq,
             row_number() OVER (PARTITION BY qid ORDER BY cq DESC, cid ASC) AS r
           FROM cosq),
         topk AS (SELECT qid, cid, cq FROM fwd WHERE r <= 4),
         fs AS (SELECT qid, sum(cq) AS fwd_sum, count(*) AS fwd_cnt
                FROM topk GROUP BY qid),
         bwd AS (
           SELECT cid, cq,
             row_number() OVER (PARTITION BY cid ORDER BY cq DESC, qid ASC) AS r
           FROM cosq),
         bs AS (SELECT cid, sum(cq) AS bwd_sum, count(*) AS bwd_cnt
                FROM bwd WHERE r <= 4 GROUP BY cid),
         cand AS (
           SELECT t.qid, t.cid, t.cq,
             CAST(2 * fs.fwd_cnt * bs.bwd_cnt * t.cq AS DOUBLE)
               / CAST(bs.bwd_cnt * fs.fwd_sum + fs.fwd_cnt * bs.bwd_sum AS DOUBLE) AS margin
           FROM topk t
           JOIN fs ON t.qid = fs.qid
           JOIN bs ON t.cid = bs.cid
           WHERE bs.bwd_cnt * fs.fwd_sum + fs.fwd_cnt * bs.bwd_sum > 0),
         best AS (
           SELECT qid, cid, cq, margin,
             row_number() OVER (PARTITION BY qid ORDER BY margin DESC, cid ASC) AS b
           FROM cand)
         SELECT qid AS query_id, cid AS match_id,
           CAST(cq AS DOUBLE) / 1000000.0 AS cos, margin
         FROM best WHERE b = 1 AND margin >= 1.0
         ORDER BY query_id""")),

    Declared("cur13_group_drift", (s, dir) => {
      // per-SOURCE language-mix drift: the planted shift (lang → 'xx'
      // for every 4th doc) is confined to src3 — a corpus-wide JSD
      // (cur12) averages it away; the grouped gate isolates it.
      // topK=3 exercises the per-group __other__ fold; the extra
      // 'srcnew' rows exist ONLY in the current snapshot, so that
      // group is excluded by the defined-on-both-sides contract (a
      // newborn source is a cur9 profiling event, not a drift score).
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("source"), col("lang"))
      val cur = d.select(col("source"),
          when(col("doc_id") % 4 === 0 && col("source") === "src3", lit("xx"))
            .otherwise(col("lang")).as("lang"))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select(lit("srcnew").as("source"), col("lang")))
      graft.operators.Profiler.categoricalDriftBy(
          d.select("source", "lang"), cur, "lang",
          groupCols = Seq("source"), topK = 3)
    },
      // the grouped replay of cur12's arithmetic: per-group top-K via
      // window rank, per-group totals, same ln-chain and 6dp rounds;
      // the cur-only 'srcnew' group drops at the HAVING (the
      // defined-on-both-snapshots contract)
      Some("""WITH d AS (
           SELECT source, cat, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT source, lang AS cat, 1 AS b, 0 AS c FROM documents
             UNION ALL
             SELECT source,
               CASE WHEN doc_id % 4 = 0 AND source = 'src3' THEN 'xx'
                    ELSE lang END, 0, 1 FROM documents
             UNION ALL
             SELECT 'srcnew', lang, 0, 1 FROM documents
             WHERE doc_id % 7 = 0) u
           WHERE cat IS NOT NULL
           GROUP BY source, cat),
         top AS (
           SELECT source, cat FROM (
             SELECT source, cat,
               row_number() OVER (PARTITION BY source
                 ORDER BY cb DESC, cat ASC) AS rk
             FROM d)
           WHERE rk <= 3),
         m AS (
           SELECT d.source,
             CASE WHEN t.cat IS NOT NULL THEN d.cat
                  ELSE '__other__' END AS category,
             sum(cb) AS nb, sum(cc) AS nc
           FROM d LEFT JOIN top t ON d.source = t.source AND d.cat = t.cat
           GROUP BY 1, 2),
         tt AS (
           SELECT source, sum(nb) AS tb, sum(nc) AS tc FROM m GROUP BY 1
           HAVING sum(nb) > 0 AND sum(nc) > 0)
         SELECT m.source, category,
           CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
           round(nb / tb, 6) AS p_base, round(nc / tc, 6) AS p_cur,
           round((CASE WHEN nb = 0 THEN 0.0
                       ELSE (nb / tb) * ln((nb / tb) / ((nb / tb + nc / tc) / 2)) END
                + CASE WHEN nc = 0 THEN 0.0
                       ELSE (nc / tc) * ln((nc / tc) / ((nb / tb + nc / tc) / 2)) END)
                 * 0.5, 6) AS jsd_term
         FROM m JOIN tt ON m.source = tt.source
         ORDER BY m.source, category""")),

    Declared("q65_merge_intervals", (s, dir) => {
      // gaps-and-islands coverage: per-host validity intervals fused
      // into maximal covered islands (overlap OR touch merges) — the
      // "when was this actually covered" primitive. Interval lengths
      // cycle 0..12 against a stride of 7 within each group, so some
      // chains fuse and some isolate — a non-trivial island
      // structure the oracle replays with the classic two-window
      // gaps-and-islands SQL. Pure integer arithmetic throughout.
      val o = t(s, dir, "orders")
      val iv = o.select((col("o_orderkey") % 7).as("g"),
        col("o_orderkey").as("lo"),
        (col("o_orderkey") + (col("o_orderkey") % 13)).as("hi"))
      graft.operators.RangeJoin.mergeIntervals(iv, Seq("g"), "lo", "hi")
        .orderBy(col("g").asc, col("island_lo").asc)
    },
      // the classic two-window gaps-and-islands replay
      Some("""WITH iv AS (
           SELECT o_orderkey % 7 AS g, o_orderkey AS lo,
             o_orderkey + (o_orderkey % 13) AS hi
           FROM orders),
         m AS (
           SELECT *, max(hi) OVER (PARTITION BY g ORDER BY lo, hi
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
           FROM iv),
         s AS (
           SELECT *, CASE WHEN prev_hi IS NULL OR lo > prev_hi
                          THEN 1 ELSE 0 END AS nw
           FROM m),
         x AS (
           SELECT *, sum(nw) OVER (PARTITION BY g ORDER BY lo, hi
             ROWS UNBOUNDED PRECEDING) AS isl
           FROM s)
         SELECT g, min(lo) AS island_lo, max(hi) AS island_hi,
           count(*) AS n_intervals
         FROM x GROUP BY g, isl
         ORDER BY g, island_lo""")),

    Declared("cur23_quantile_norm", (s, dir) => {
      // quantile normalization: every event value replaced by the
      // GLOBAL order statistic at its type-relative rank, so all
      // event types end up on one distribution (the microarray-
      // normalization standard applied to corpus metrics — "top
      // decile" means the same thing in every type). NO
      // interpolation anywhere: grid ranks, group ranks and the
      // index mapping are exact integer arithmetic; the oracle
      // replays the grid from the covers-definition and the mapping
      // from window ranks.
      graft.operators.Profiler.quantileNormalizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "event_id", "value", Seq("event_type"), nGrid = 101)
        .orderBy(col("event_id").asc)
    },
      // the grid from the covers DEFINITION (t_j inside the digest's
      // rank range), the row mapping from window ranks — both pure
      // integer arithmetic, independent of the engine's sequence-emit
      // formulation
      Some("""WITH base AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events WHERE value IS NOT NULL),
         nn AS (SELECT count(*) AS n FROM base),
         dg AS (SELECT vq, count(*) AS c FROM base GROUP BY 1),
         rk AS (SELECT vq, c, sum(c) OVER (ORDER BY vq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
           FROM dg),
         grid AS (
           SELECT j, vq AS grid_vq
           FROM (SELECT unnest(range(0, 101)) AS j), rk, nn
           WHERE (j * (n - 1)) // 100 >= hi - c
             AND (j * (n - 1)) // 100 < hi),
         rr AS (
           SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY vq, event_id) - 1 AS r,
             count(*) OVER (PARTITION BY event_type) AS ng
           FROM base),
         jj AS (
           SELECT *, CASE WHEN ng = 1 THEN 50
                          ELSE (r * 100) // (ng - 1) END AS j
           FROM rr)
         SELECT jj.event_id, jj.event_type, jj.value,
           CAST(grid_vq AS DOUBLE) / 100.0 AS value_qn
         FROM jj JOIN grid USING (j)
         ORDER BY jj.event_id""")),

    Declared("cur24_pipeline", (s, dir) =>
      // see pipelineIntegration — the single-lazy-plan form
      pipelineIntegration(s, dir, materialize = false),
      Some(pipelineOracle)),

    Declared("cur24b_pipeline_persisted", (s, dir) =>
      // cur24 with the USAGE-documented production persist points
      // applied: every multi-consumer frame (exact-dedup output, near-
      // dedup survivors, decontaminated frame) materializes once via
      // localCheckpoint, so the score→dedup subtrees execute once
      // instead of re-running through each downstream consumer.
      // Row-identical to cur24 BY CONTRACT (same oracle hash): a
      // checkpoint materializes exact rows and every stage is
      // deterministic, so the only difference is the physical
      // recompute — whose cost delta the bench pins (cur24 is the
      // suite's most expensive query; this is the txt13/dd14 two-
      // routes discipline applied to the integration pipeline)
      pipelineIntegration(s, dir, materialize = true),
      // cur24 with the production persist points applied: a
      // localCheckpoint materializes exact rows, so the persisted route
      // must hash-match the one-lazy-plan route bit-for-bit
      Some(pipelineOracle)),

    Declared("txt25_gopher", (s, dir) => {
      // the PUBLISHED hard quality heuristics (Rae et al. 2021,
      // Gopher §A1.1; C4 shares the shape) applied verbatim — the
      // rule set production corpus filters run before any soft score:
      // word-count bounds, mean-word-length bounds, symbol-to-word
      // ratio, bullet/ellipsis line ratios, alpha-word ratio,
      // required-stopword evidence. Every metric reads ONE fused
      // scan-side kernel call per row (gopherStats — the textStats
      // fusion discipline; the composed form re-read the text seven
      // times) whose ratios are exact integer-derived divisions, so
      // every threshold comparison replays bit-for-bit in DuckDB
      // (which recomputes them with its regex engine). Planted docs
      // (+40000) each violate exactly ONE rule family — engineered so
      // the other six rules pass (e.g. the ellipsis doc carries 10
      // words per line so one '...' stays AT the 0.1 symbol boundary)
      // — plus one doc that passes all seven; the oracle thus pins
      // each rule's firing, not just the conjunction. (40000 bullet
      // lines sit at 10/11 ≈ 0.909, just over the 0.9 gate.)
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Seq(
        40000L -> (("• the point of and with list\n" * 10) + "end"),
        40001L -> ("# tagging often the and " * 20),
        40002L -> "too short to keep the and",
        40003L -> ("pneumonoultramicroscopicsilicovolcanoconiosis of the to " * 15),
        40004L -> (("now then we watch and wait for the next part...\n" * 12)
          + "end"),
        40005L -> ("12345 6789 of the " * 25),
        40006L -> (("the quick brown fox jumps over a lazy dog with zeal " +
          "and grace to be of good cheer that day have fun ") * 5)
      ).toDF("doc_id", "text")
      d.unionByName(planted)
        .select(col("doc_id"),
          textfns.gopherWordCount(col("text")).as("n_words"),
          round(textfns.meanWordLen(col("text")), 4).as("mean_word_len"),
          round(textfns.symbolWordRatio(col("text")), 4).as("symbol_ratio"),
          round(textfns.bulletLineRatio(col("text")), 4).as("bullet_ratio"),
          round(textfns.ellipsisLineRatio(col("text")), 4).as("ellipsis_ratio"),
          round(textfns.alphaWordRatio(col("text")), 4).as("alpha_ratio"),
          textfns.stopwordDistinct(col("text")).as("stop_distinct"),
          textfns.gopherKeep(col("text")).as("keep"))
        .orderBy(col("doc_id").asc)
    },
      // every ratio is an exact division of integer-derived counts, so
      // the threshold comparisons in `keep` replay bit-for-bit; planted
      // docs are rebuilt verbatim with repeat()/chr(10)
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 40000,
             repeat('• the point of and with list' || chr(10), 10) || 'end'
           UNION ALL SELECT 40001, repeat('# tagging often the and ', 20)
           UNION ALL SELECT 40002, 'too short to keep the and'
           UNION ALL SELECT 40003,
             repeat('pneumonoultramicroscopicsilicovolcanoconiosis of the to ', 15)
           UNION ALL SELECT 40004,
             repeat('now then we watch and wait for the next part...' || chr(10), 12) || 'end'
           UNION ALL SELECT 40005, repeat('12345 6789 of the ', 25)
           UNION ALL SELECT 40006,
             repeat('the quick brown fox jumps over a lazy dog with zeal '
               || 'and grace to be of good cheer that day have fun ', 5)),
         nn AS (SELECT doc_id, coalesce(text, '') AS text FROM all_docs),
         sc AS (
           SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
             length(regexp_replace(text, '\s+', '', 'g')) AS n_wchars,
             len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> regexp_matches(x, '[A-Za-z]'))) END AS n_alpha,
             string_split(text, chr(10)) AS ls
           FROM nn),
         m AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_wchars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mwl,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symr,
             CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•‣▪]'))) AS DOUBLE)
               / CAST(greatest(len(ls), 1) AS DOUBLE) AS bulr,
             CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) AS DOUBLE)
               / CAST(greatest(len(ls), 1) AS DOUBLE) AS ellr,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpr,
             (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS sd
           FROM sc)
         SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           round(mwl, 4) AS mean_word_len, round(symr, 4) AS symbol_ratio,
           round(bulr, 4) AS bullet_ratio, round(ellr, 4) AS ellipsis_ratio,
           round(alpr, 4) AS alpha_ratio, CAST(sd AS INTEGER) AS stop_distinct,
           (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
             AND symr <= 0.1 AND bulr <= 0.9 AND ellr <= 0.3
             AND alpr >= 0.8 AND sd >= 2 AS keep
         FROM m ORDER BY doc_id""")),

    Declared("cur25_gram", (s, dir) => {
      // distributed covariance sufficient statistics (the XᵀX pass
      // behind PCA/whitening): ONE GramMatrix aggregate over
      // scan-side micro-quantized vectors — each task ships a fixed
      // ~17 KB buffer (never N·d²/2 product rows), and the integer
      // sums make the result bit-identical at any partitioning and
      // DuckDB-replayable (the oracle rebuilds the same sums from an
      // index explode + self-join — the quadratic definition is the
      // ORACLE's job, the engine never runs it).
      graft.similarity.Pca.gram(t(s, dir, "embeddings"), "embedding",
          d = 64, scale = 10000L)
        .orderBy(col("i").asc, col("j").asc)
    },
      // the oracle rebuilds the exact integer Gram sums by the
      // quadratic definition (index explode + per-vector self-join) —
      // the formulation the engine's fixed-buffer aggregate exists to
      // avoid at scale, which is exactly what makes it an independent
      // check
      Some("""WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qv
           FROM embeddings WHERE embedding IS NOT NULL),
         e AS (
           SELECT vec_id, ix.i AS i, qv[ix.i + 1] AS qval
           FROM q, (SELECT unnest(range(0, 64)) AS i) ix),
         m AS (SELECT i, sum(qval) AS mi FROM e GROUP BY 1),
         p AS (
           SELECT a.i AS i, b.i AS j, sum(a.qval * b.qval) AS s
           FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
           GROUP BY 1, 2),
         nn AS (SELECT count(*) AS n FROM q)
         SELECT p.i, p.j, (SELECT n FROM nn) AS n,
           CAST(ma.mi AS BIGINT) AS m_i, CAST(mb.mi AS BIGINT) AS m_j,
           CAST(p.s AS BIGINT) AS s_ij
         FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
         ORDER BY p.i, p.j""")),

    Declared("txt26_c4", (s, dir) => {
      // the C4 cleaner (Raffel et al. 2020 §2.2) — the OTHER published
      // pipeline next to txt25's Gopher gates, and a REWRITE rather
      // than a gate: keep only prose-shaped lines (terminal
      // punctuation + ≥5 words), then gate pages on ≥3 sentences and
      // the lorem-ipsum / curly-brace markers. The cleaned text is
      // compared by md5 fingerprint (the txt4 discipline — DuckDB
      // recomputes the digest of ITS OWN rewrite, so the transform is
      // verified byte-exactly without shipping megabytes through the
      // hash compare). Planted docs (+50000) pin each rule.
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Seq(
        50000L -> ("This is a good first sentence with many words.\n" +
          "short line\n" +
          "Another proper sentence is here again today."),
        50001L -> "Lorem Ipsum dolor sit amet consectetur adipiscing elit sed.",
        50002L -> ("function foo() { return 1; }\n" +
          "A code page example here with prose words."),
        50003L -> "One sentence only lives here today.",
        50004L -> ("A first proper sentence stands here.\n" +
          "A second proper sentence stands here!\n" +
          "Does a third proper sentence stand here?")
      ).toDF("doc_id", "text")
      d.unionByName(planted)
        .select(col("doc_id"),
          size(split(coalesce(col("text"), lit("")), "\n")).as("n_lines"),
          textfns.c4KeptLineCount(col("text")).as("n_kept"),
          textfns.c4SentenceCount(col("text")).as("n_sentences"),
          textfns.c4Keep(col("text")).as("keep"),
          md5(encode(textfns.c4CleanLines(col("text")), "UTF-8")).as("clean_fp"))
        .orderBy(col("doc_id").asc)
    },
      // the oracle performs the SAME rewrite and digests its own output
      // — the transform is verified byte-exactly via the fingerprint
      Some("""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 50000,
             'This is a good first sentence with many words.' || chr(10)
             || 'short line' || chr(10)
             || 'Another proper sentence is here again today.'
           UNION ALL SELECT 50001,
             'Lorem Ipsum dolor sit amet consectetur adipiscing elit sed.'
           UNION ALL SELECT 50002,
             'function foo() { return 1; }' || chr(10)
             || 'A code page example here with prose words.'
           UNION ALL SELECT 50003, 'One sentence only lives here today.'
           UNION ALL SELECT 50004,
             'A first proper sentence stands here.' || chr(10)
             || 'A second proper sentence stands here!' || chr(10)
             || 'Does a third proper sentence stand here?'),
         base AS (
           SELECT doc_id, coalesce(text, '') AS t,
             string_split(coalesce(text, ''), chr(10)) AS ls
           FROM all_docs),
         m AS (
           SELECT doc_id, len(ls) AS n_lines,
             list_filter(ls, x -> regexp_matches(trim(x), '[.!?]$')
               AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
               AND length(trim(x)) > 0) AS kept,
             len(regexp_extract_all(t, '[.!?]+')) AS n_sentences,
             t
           FROM base)
         SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
           CAST(len(kept) AS INTEGER) AS n_kept,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           n_sentences >= 3 AND NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{') AS keep,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_fp
         FROM m ORDER BY doc_id""")),

    Declared("cur26_corr", (s, dir) => {
      // Pearson correlation matrix from cur25's exact integer
      // statistics — the feature-redundancy report (|corr|≈1 pairs
      // are drop candidates before PCA/indexing). Fixed DOUBLE
      // operation order over BIGINT-exact sums, so DuckDB replays
      // bit-for-bit pre-rounding; 6dp on both sides per §4.
      graft.similarity.Pca.correlation(t(s, dir, "embeddings"),
          "embedding", d = 64, scale = 10000L)
        .select(col("i"), col("j"), round(col("corr"), 6).as("corr"))
        .orderBy(col("i").asc, col("j").asc)
    },
      // same statistics as cur25, pushed through the fixed-order
      // Pearson formula in DOUBLE — bit-identical pre-rounding
      Some("""WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS qv
           FROM embeddings WHERE embedding IS NOT NULL),
         e AS (
           SELECT vec_id, ix.i AS i, qv[ix.i + 1] AS qval
           FROM q, (SELECT unnest(range(0, 64)) AS i) ix),
         m AS (SELECT i, CAST(sum(qval) AS BIGINT) AS mi FROM e GROUP BY 1),
         p AS (
           SELECT a.i AS i, b.i AS j, CAST(sum(a.qval * b.qval) AS BIGINT) AS s
           FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
           GROUP BY 1, 2),
         nn AS (SELECT count(*) AS n FROM q),
         dg AS (SELECT i AS dk, s AS ds FROM p WHERE i = j),
         c AS (
           SELECT p.i, p.j,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(p.s AS DOUBLE)
               - CAST(ma.mi AS DOUBLE) * CAST(mb.mi AS DOUBLE) AS numer,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(da.ds AS DOUBLE)
               - CAST(ma.mi AS DOUBLE) * CAST(ma.mi AS DOUBLE) AS vi,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(db.ds AS DOUBLE)
               - CAST(mb.mi AS DOUBLE) * CAST(mb.mi AS DOUBLE) AS vj
           FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
           JOIN dg da ON da.dk = p.i JOIN dg db ON db.dk = p.j)
         SELECT i, j,
           CASE WHEN vi <= 0.0 OR vj <= 0.0 THEN NULL
                ELSE round(numer / sqrt(vi * vj), 6) END AS corr
         FROM c ORDER BY i, j""")),

    Declared("q66_tpch_q10", (s, dir) => {
      // TPC-H Q10 (returned-item revenue by customer over one
      // quarter), adapted to the fixture's columns and 1995–2001 date
      // range. The nation dimension broadcasts; revenue sums are
      // CENTS-QUANTIZED (exact integer sum — no float summation-order
      // dependence, the q63 discipline) then scaled back; the LIMIT
      // rides a total order (revenue desc, custkey asc).
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .withColumn("rev_c", floor(col("l_extendedprice")
          * (lit(1.0) - col("l_discount")) * 100.0 + 0.5).cast("long"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1995-10-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1995-07-01'
           AND o_orderdate < TIMESTAMP '1995-10-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    Declared("q67_tpch_q7", (s, dir) => {
      // TPC-H Q7 (bilateral shipping volume between two nations by
      // year): the two nation dimensions broadcast PRE-FILTERED to
      // the pair, so the join fan-in shrinks scan-side before the
      // cross-pair predicate; revenue cents-quantized as in q66.
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") <= to_timestamp(lit("1996-12-31")))
        .withColumn("vol_c", floor(col("l_extendedprice")
          * (lit(1.0) - col("l_discount")) * 100.0 + 0.5).cast("long"))
        .withColumn("l_year", year(col("l_shipdate")))
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum(col("vol_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("supp_nation").asc, col("cust_nation").asc,
          col("l_year").asc)
    },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_2')
           AND n2.n_name IN ('NATION_1', 'NATION_2')
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <= TIMESTAMP '1996-12-31'
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""")),

    Declared("ann13_pca_recall", (s, dir) => {
      // MEASURED recall gate for PCA-accelerated search (the FAISS
      // PCA/OPQ preprocessing, deployed the production way: a COARSE
      // shortlist in the reduced space + exact rerank in the original
      // space — the repo's sketch-then-exact-verify discipline, so
      // recall depends on shortlist MEMBERSHIP, not on 16 dims
      // ordering the top-10 correctly). Fit = exact integer Gram pass
      // + deterministic driver Jacobi; projection scan-side; the
      // rerank joins the ≤100·Q shortlist back to raw vectors by id
      // (one broadcast, one column-pruned scan — nothing quadratic).
      // Also reports the captured-variance fraction (the fixture's
      // flat spectrum: ~0.38 at 16/64 — which is exactly why the
      // rerank deployment is the one that works). Rows-only by
      // design (eigenvectors are engine-internal; PcaSpec pins the
      // floor).
      val emb = t(s, dir, "embeddings")
      val full = graft.similarity.Pca.fit(emb, "embedding", d = 64, k = 64)
      val model = graft.similarity.Pca.PcaModel(full.means,
        full.components.take(16), full.variances.take(16))
      val varCaptured = model.variances.sum / full.variances.sum
      val proj = graft.similarity.Pca.project(emb, "embedding", model, "pca")
        .select(col("vec_id"), col("pca").cast("array<float>").as("embedding"))
      val k = 10
      val exact = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          k = k, quantized = true)
        .select(col("query_id"), col("neighbor_id"))
      val short = Ann.bruteForceTopK(proj, proj.filter(col("vec_id") < 20),
          k = 100)
        .select(col("query_id"), col("neighbor_id"))
      val qv = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val reranked = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("__nv"))
        .join(broadcast(short), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("score",
          graft.expressions.GraftFunctions.graft_cosine(col("__nv"), col("__qv")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id").asc)))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(reranked, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((count(col("__hit")).cast("double") / count(lit(1))).as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("recall_at_10"))
        .select(lit("pca16_short100_rerank").as("method"), col("n_queries"),
          col("recall_at_10"),
          round(lit(varCaptured), 4).as("var_captured"))
    },
      None),

    Declared("q64_triangles", (s, dir) => {
      // per-node triangle counts on the cur14 citation graph — the
      // local-clustering companion to PageRank's global authority
      // (organic communities close triangles; link farms don't).
      // Degree-oriented enumeration (Cohen / Suri–Vassilvitskii):
      // each triangle is ONE wedge at its lowest-(deg,id) corner plus
      // one closing equi-join, so wedge fan-out is bounded by the
      // oriented out-degree ≤ O(√m) — a degree-10⁸ hub emits zero
      // wedges. Pure integer counting; the oracle replays the
      // quadratic id-ordered definition, which must enumerate the
      // identical triangle set.
      val o = t(s, dir, "orders")
      val edges = o.select((col("o_orderkey") % 1000).as("src"),
        (col("o_custkey") % 1000).as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
        .orderBy(col("id").asc)
    },
      // the quadratic id-ordered triangle definition IS the oracle's
      // job; the engine's degree-oriented plan must enumerate the
      // identical set
      Some("""WITH raw AS (
           SELECT o_orderkey % 1000 AS src, o_custkey % 1000 AS dst
           FROM orders),
         e AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         tr AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM e e1
           JOIN e e2 ON e2.u = e1.v
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT u AS id FROM e UNION SELECT v FROM e),
         cnt AS (
           SELECT id, count(*) AS t FROM (
             SELECT a AS id FROM tr
             UNION ALL SELECT b FROM tr
             UNION ALL SELECT c FROM tr)
           GROUP BY 1)
         SELECT n.id, coalesce(cnt.t, 0) AS triangles
         FROM n LEFT JOIN cnt USING (id)
         ORDER BY n.id""")),

    Declared("q63_compact", (s, dir) => {
      // small-file compaction gate: events → 16-files-per-partition
      // mess → per-directory byte-targeted rewrite (the lakehouse
      // OPTIMIZE pass), then aggregated FROM THE COMPACTED COPY
      // against the original-table oracle — content must survive both
      // rewrites exactly. LayoutSpec pins the file-count mechanics
      // (per-directory counts incl. the skewed case, identity-routed
      // exchange); cents-quantized sum keeps the replay exact.
      s.read.parquet(ensureCompactedWritten(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100.0 + 0.5).cast("long")).cast("double")
            / 100.0).as("value_sum"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type").asc)
    },
      // the compacted copy must agree with the ORIGINAL table on every
      // aggregate — the round-trip-exactness claim of the compaction
      Some("""SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS value_sum,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY 1 ORDER BY 1""")),

    Declared("q62_nest_join", (s, dir) => {
      // dplyr nest_join: each order carries its lineitems as a nested
      // list-column (sorted structs, key dropped from them, unmatched
      // = EMPTY array). The declared projection reduces the array to
      // scalars — match count, first struct's line number, cents-exact
      // quantity total via functions.aggregate — so the oracle replays
      // as a left-join aggregate; the nesting structure itself is
      // spec-pinned (sorted order, empty-array unmatched, the
      // unnest∘nestJoin ≡ innerJoin law).
      val o = GraftFrame(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")))
      val li = GraftFrame(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")))
      val nested = o.nestJoin(li, Seq("o_orderkey"), "items")
      nested.df.select(col("o_orderkey"), col("o_custkey"),
          size(col("items")).cast("long").as("n_items"),
          when(size(col("items")) > 0,
            element_at(col("items"), 1).getField("l_linenumber"))
            .as("first_line"),
          (aggregate(col("items"), lit(0L), (acc, x) =>
            acc + floor(x.getField("l_quantity") * 100.0 + 0.5).cast("long"))
            .cast("double") / 100.0).as("qty_sum"))
        .orderBy(col("o_orderkey").asc)
    },
      // nest_join reduced to scalars = a left-join aggregate: count,
      // min line number (the sorted array's first struct), cents-exact
      // quantity sum; unmatched orders coalesce to 0 matches
      Some("""WITH li AS (
           SELECT l_orderkey, l_linenumber,
             CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc
           FROM lineitem),
         a AS (
           SELECT l_orderkey, count(*) AS n_items,
             min(l_linenumber) AS first_line, sum(qc) AS sqc
           FROM li GROUP BY 1)
         SELECT o.o_orderkey, o.o_custkey,
           coalesce(a.n_items, 0) AS n_items,
           a.first_line AS first_line,
           CAST(coalesce(a.sqc, 0) AS DOUBLE) / 100.0 AS qty_sum
         FROM orders o LEFT JOIN a ON a.l_orderkey = o.o_orderkey
         ORDER BY o.o_orderkey""")),

    Declared("q61_rolling", (s, dir) => {
      // trailing-window feature engineering: every event carries its
      // user's LAST-HOUR count/sum/mean/min/max as of that instant —
      // the slider/rollapply step between raw events and any model
      // consuming trailing features. RANGE frame (same-second peers
      // always share a frame), cents-quantized BIGINT rolling sums,
      // sum/mean produced by one double division each — bit-replayable.
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
      val secs = ev.select(col("user_id"),
        Streams.eventTsMs(ev, "ts").as("__ms"), col("value"))
        .select(col("user_id"), expr("__ms DIV 1000").as("tsec"), col("value"))
      graft.operators.Roll.timeStats(secs, Seq("user_id"), "tsec", "value",
          windowSeconds = 3600L)
        .orderBy(col("user_id").asc, col("tsec").asc, col("value").asc)
    },
      // trailing-hour RANGE frame per user: cents-quantized BIGINT
      // rolling sum (order-free exact), count/min/max exact, sum/mean
      // via one double division each — the Roll.timeStats contract
      Some("""WITH e AS (
           SELECT user_id, (epoch_ns(ts) // 1000000) // 1000 AS tsec, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
           FROM events
           WHERE user_id < 20 AND ts IS NOT NULL AND value IS NOT NULL),
         r AS (
           SELECT user_id, tsec, value,
             count(*) OVER w AS roll_n,
             sum(vc) OVER w AS sc,
             min(value) OVER w AS roll_min,
             max(value) OVER w AS roll_max
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW))
         SELECT user_id, tsec, value, roll_n,
           CAST(sc AS DOUBLE) / 100.0 AS roll_sum,
           CAST(sc AS DOUBLE) / CAST(roll_n * 100 AS DOUBLE) AS roll_mean,
           roll_min, roll_max
         FROM r ORDER BY user_id, tsec, value""")),

    Declared("q60_rows_verbs", (s, dir) => {
      // the dplyr rows_* verb family over a keyed frame, composed:
      // PATCH fills planted-null statuses from a reference (fill-only
      // — existing values win), UPDATE reprices with a PARTIAL
      // payload (only o_totalprice travels), UPSERT appends fresh
      // keys with full payload, DELETE drops a tranche. Null-safe
      // keys throughout; the oracle replays each verb as its CASE /
      // UNION / filter definition in sequence.
      val base0 = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = GraftFrame(base0.withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus"))))
      val patch = GraftFrame(base0.filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus")))
      val upd = GraftFrame(base0.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice")))
      val ups = GraftFrame(base0.filter(col("o_orderkey") % 10 === 3)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus")))
      val del = GraftFrame(base0.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey")))
      base.rowsPatch(patch, Seq("o_orderkey"))
        .rowsUpdate(upd, Seq("o_orderkey"))
        .rowsUpsert(ups, Seq("o_orderkey"))
        .rowsDelete(del, Seq("o_orderkey"))
        .arrange(asc("o_orderkey"))
        .df
    },
      // each rows_* verb replayed in sequence: patch = fill-only CASE,
      // update = overwrite CASE from the partial payload, upsert = pure
      // insert here (fresh keys), delete = tranche filter (inserted
      // keys end in 3, so %10<>0 removes exactly the original tranche)
      Some("""WITH base0 AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders),
         base AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderstatus END AS o_orderstatus
           FROM base0),
         p1 AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 14 = 0 AND o_orderstatus IS NULL
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
           FROM base),
         p2 AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
           FROM p1),
         p3 AS (
           SELECT * FROM p2
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
             o_orderstatus
           FROM base0 WHERE o_orderkey % 10 = 3)
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         FROM p3 WHERE o_orderkey % 10 <> 0
         ORDER BY o_orderkey""")),

    Declared("q59_snapshot_diff", (s, dir) => {
      // the inverse of q56: recover the minimal CDC batch between two
      // snapshots — upserts for repriced and fresh keys, tombstones
      // for vanished ones, NOTHING for the untouched 70% (a
      // mostly-unchanged snapshot ships a diff proportional to the
      // change, not the table). merge(base, diff(base, next)) == next
      // is the SnapshotSpec round-trip law.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      val next = base.filter(col("o_orderkey") % 10 =!= 0 &&
          col("o_orderkey") % 10 =!= 5)
        .unionByName(base.filter(col("o_orderkey") % 10 === 5)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 1000.0).as("o_totalprice"),
            col("o_orderstatus")))
        .unionByName(base.filter(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"), col("o_orderstatus")))
      graft.operators.Snapshot.diff(base, next, keyCols = Seq("o_orderkey"))
        .orderBy(col("o_orderkey").asc, col("op").asc)
    },
      // upserts = next rows new-or-changed vs base (null-safe per-column
      // compare), deletes = vanished base keys; the untouched majority
      // emits nothing
      Some("""WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders),
         nxt AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM base WHERE o_orderkey % 10 NOT IN (0, 5)
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus
           FROM base WHERE o_orderkey % 10 = 5
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderstatus
           FROM base WHERE o_orderkey % 10 = 3)
         SELECT n.o_orderkey, n.o_custkey, n.o_totalprice, n.o_orderstatus,
           'upsert' AS op
         FROM nxt n LEFT JOIN base b ON n.o_orderkey = b.o_orderkey
         WHERE b.o_orderkey IS NULL
            OR NOT (n.o_custkey IS NOT DISTINCT FROM b.o_custkey
                AND n.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                AND n.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus)
         UNION ALL
         SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus,
           'delete' AS op
         FROM base b LEFT JOIN nxt n ON b.o_orderkey = n.o_orderkey
         WHERE n.o_orderkey IS NULL
         ORDER BY o_orderkey, op""")),

    Declared("q58_resample", (s, dir) => {
      // time-grid resampling with forward fill: each user's irregular
      // event series projected onto a 15-minute grid, latest value
      // carried forward — the regularization step between raw event
      // tables and anything assuming aligned periods (drift gates,
      // CUSUM charts, feature windows). Bucket floor, latest-per-
      // bucket tie-break, and the per-key fill window all replay
      // exactly in the oracle.
      val ev = t(s, dir, "events").filter(col("user_id") < 5)
      val secs = ev.select(col("user_id"),
        Streams.eventTsMs(ev, "ts").as("__ms"), col("value"))
        .select(col("user_id"), expr("__ms DIV 1000").as("tsec"), col("value"))
      graft.operators.Resample.timeGrid(secs, Seq("user_id"), "tsec",
          "value", stepSeconds = 900L)
        .orderBy(col("user_id").asc, col("grid_ts").asc)
    },
      // latest-per-bucket via row_number (tsec DESC, value DESC) — the
      // deterministic twin of the engine's max(struct(ts, value));
      // forward fill via last_value IGNORE NULLS over the grid
      Some("""WITH e AS (
           SELECT user_id, (epoch_ns(ts) // 1000000) // 1000 AS tsec, value
           FROM events WHERE user_id < 5 AND value IS NOT NULL),
         eb AS (
           SELECT user_id, tsec - ((tsec % 900) + 900) % 900 AS b,
             tsec, value
           FROM e),
         o AS (
           SELECT user_id, b, value FROM (
             SELECT user_id, b, value,
               row_number() OVER (PARTITION BY user_id, b
                 ORDER BY tsec DESC, value DESC) AS rn
             FROM eb)
           WHERE rn = 1),
         g AS (
           SELECT user_id, unnest(generate_series(lo, hi, 900)) AS gts
           FROM (SELECT user_id, min(b) AS lo, max(b) AS hi
                 FROM o GROUP BY 1)),
         f AS (
           SELECT g.user_id, g.gts, o.value AS vraw
           FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.b = g.gts)
         SELECT user_id, gts AS grid_ts,
           last_value(vraw IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY gts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           vraw IS NOT NULL AS observed
         FROM f ORDER BY user_id, grid_ts""")),

    Declared("cur19_winsorize", (s, dir) => {
      // per-type metric winsorization: clamp every event value into
      // its type's [k-th smallest, k-th largest] order statistics
      // with k = ⌊α·n⌋ — outlier CAPPING where cur18 is outlier
      // FLAGGING. Rank-based bounds are pure selections over exact
      // integer ranks (an interpolated p02 is a product of doubles
      // whose formula differs across engines in the last ulp), so
      // bounds and clamped values replay bit-for-bit via a
      // row_number window in the oracle; the engine side runs the
      // q20 histogram-digest plan, never a per-group row sort.
      graft.operators.Profiler.winsorizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"), alpha = 0.02)
        .orderBy(col("event_id").asc)
    },
      // rank-based bounds are order statistics — replayed by an explicit
      // row_number selection, no quantile interpolation anywhere
      Some("""WITH q AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events),
         nn AS (
           SELECT event_type, vq,
             row_number() OVER (PARTITION BY event_type ORDER BY vq) - 1 AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM q WHERE value IS NOT NULL),
         b AS (
           SELECT event_type,
             max(CASE WHEN rk = CAST(floor(0.02 * n) AS BIGINT)
                 THEN vq END) AS loq,
             max(CASE WHEN rk = n - 1 - CAST(floor(0.02 * n) AS BIGINT)
                 THEN vq END) AS hiq
           FROM nn GROUP BY 1)
         SELECT q.event_id, q.event_type, q.value,
           CAST(loq AS DOUBLE) / 100.0 AS lo,
           CAST(hiq AS DOUBLE) / 100.0 AS hi,
           CASE WHEN q.value IS NULL THEN NULL
                ELSE CAST(least(greatest(q.vq, loq), hiq) AS DOUBLE) / 100.0
           END AS value_w
         FROM q LEFT JOIN b USING (event_type)
         ORDER BY q.event_id""")),

    Declared("cur20_priority_sample", (s, dir) => {
      // deterministic WEIGHTED sampling without replacement —
      // priority sampling (Duffield–Lund–Thorup, JACM 2007): 40 docs
      // per source with inclusion biased by document length, each
      // sampled row carrying the estimation weight max(w, τ) that
      // keeps downstream subset sums unbiased (τ = the stratum's
      // 41st priority). Priorities are exact BIGINT
      // ⌊w·2³¹ ÷ (h+1)⌋ over the avalanche decisionHash (own
      // constants), so rank order, membership and τ replay
      // bit-for-bit in DuckDB — a float w/u ranking would tie-break
      // on libm ulps. Rides the BoundedTopK partial aggregate, the
      // cur7 physical path.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        (col("n_chars") + lit(1)).cast("double").as("w"))
      graft.operators.Shuffle.prioritySample(d, "doc_id", "w", 40,
          Seq("source"), scale = 1L)
        .orderBy(col("doc_id").asc)
    },
      // the full decisionHash replay (the cur4 discipline, own
      // constants 40692/52361), then exact BIGINT priorities — rank,
      // membership and the 41st-priority threshold all integer
      Some("""WITH d AS (
           SELECT doc_id, source, CAST(n_chars + 1 AS DOUBLE) AS w,
             CAST(floor(CAST(n_chars + 1 AS DOUBLE) * 1.0 + 0.5) AS BIGINT) AS wq
           FROM documents),
         h0 AS (SELECT *, xor(doc_id, (doc_id >> 32) + 52361) AS t0 FROM d),
         h1 AS (SELECT *,
             ((t0 % 2147483647) * 40692 + 52361) % 2147483647 AS t1 FROM h0),
         h2 AS (SELECT *,
             (xor(t1, t1 >> 15) * 1664525 + 1013904223) % 2147483647 AS hh1
           FROM h1),
         h3 AS (SELECT *,
             (xor(hh1, hh1 >> 13) * 22695477 + 77557187) % 2147483647 + 1 AS h
           FROM h2),
         p AS (SELECT doc_id, source, w, wq,
             (wq * 2147483648) // h AS pri FROM h3),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY source ORDER BY pri DESC, doc_id) AS rk FROM p),
         tau AS (SELECT source, max(CASE WHEN rk = 41 THEN pri END) AS tau
           FROM r GROUP BY 1)
         SELECT r.doc_id, r.source, r.w, CAST(r.pri AS BIGINT) AS priority,
           CAST(greatest(r.wq, coalesce(tau.tau, 0)) AS DOUBLE) / 1.0
             AS est_weight
         FROM r JOIN tau USING (source)
         WHERE rk <= 40
         ORDER BY r.doc_id""")),

    Declared("cur21_w1_drift", (s, dir) => {
      // per-source Wasserstein-1 drift on n_chars, +10% inflation
      // confined to src5 (the cur15 fixture): where KS reports the
      // largest CDF gap, W₁ reports how FAR the mass moved, in
      // character units — src5 reads ≈ 0.1·mean(n_chars), every
      // other source exactly 0.0. On the 0.1-char quantized grid the
      // numerator is an order-free exact integer sum (decimal(38,0)
      // here, HUGEINT in the oracle) and ONE double division closes
      // it — bit-replayable, unlike any float Σ|F−G|·Δx.
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      val cur = d.select(col("source"),
        when(col("source") === "src5", col("n_chars") * 1.1)
          .otherwise(col("n_chars").cast("double")).as("n_chars"))
      graft.operators.Profiler.w1DriftBy(d, cur, "n_chars", Seq("source"),
        scale = 10L)
    },
      // the exact-integer W1: HUGEINT numerator (window sums of BIGINT
      // are HUGEINT in DuckDB, decimal(38,0) in the engine), one double
      // division at the end
      Some("""WITH u AS (
           SELECT source,
             CAST(floor(CAST(n_chars AS DOUBLE) * 10.0 + 0.5) AS BIGINT) AS vq,
             1 AS b, 0 AS c
           FROM documents WHERE n_chars IS NOT NULL
           UNION ALL
           SELECT source,
             CAST(floor((CASE WHEN source = 'src5'
                 THEN CAST(n_chars AS DOUBLE) * 1.1
                 ELSE CAST(n_chars AS DOUBLE) END) * 10.0 + 0.5) AS BIGINT),
             0, 1
           FROM documents WHERE n_chars IS NOT NULL),
         d AS (SELECT source, vq, sum(b) AS cb, sum(c) AS cc
               FROM u GROUP BY 1, 2),
         t AS (SELECT source, CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(sum(cc) AS BIGINT) AS nc
               FROM d GROUP BY 1 HAVING sum(cb) > 0 AND sum(cc) > 0),
         r AS (SELECT source, vq,
                 sum(cb) OVER w AS rb, sum(cc) OVER w AS rc,
                 lead(vq) OVER (PARTITION BY source ORDER BY vq) AS nvq
               FROM d
               WINDOW w AS (PARTITION BY source ORDER BY vq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         s AS (SELECT r.source,
                 sum(CASE WHEN nvq IS NULL THEN 0
                     ELSE abs(rb * nc - rc * nb) * (nvq - vq) END) AS num,
                 max(nb) AS nb, max(nc) AS nc
               FROM r JOIN t USING (source) GROUP BY 1)
         SELECT source,
           CAST(num AS DOUBLE) / CAST(nb * nc * 10 AS DOUBLE) AS w1,
           nb AS n_base, nc AS n_cur
         FROM s ORDER BY source""")),

    Declared("cur18_mad_outliers", (s, dir) => {
      // robust per-type metric anomaly gate: median/MAD flags (Hampel
      // identifier) that heavy tails cannot hijack — one pathological
      // batch inflates a z-score's σ enough to hide itself, the MAD
      // barely moves. Quantized-integer medians interpolate to exact
      // dyadic steps, so the flag comparison and both quantile passes
      // replay bit-for-bit through DuckDB's quantile_cont.
      graft.operators.Profiler.madOutliers(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"), k = 3.0)
        .orderBy(col("event_id").asc)
    },
      // median and MAD over cents-quantized integers via quantile_cont
      // (the q20 bit-parity precedent); the outlier comparison runs on
      // the quantized scale where every term is exact dyadic
      Some("""WITH e AS (
           SELECT event_id, event_type, value,
             CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE) AS vq
           FROM events WHERE value IS NOT NULL),
         m AS (
           SELECT event_type, quantile_cont(vq, 0.5) AS medq
           FROM e GROUP BY 1),
         d AS (
           SELECT e.event_id, e.event_type, e.value, e.vq, m.medq,
             abs(e.vq - m.medq) AS dev
           FROM e JOIN m ON e.event_type IS NOT DISTINCT FROM m.event_type),
         m2 AS (
           SELECT event_type, quantile_cont(dev, 0.5) AS madq
           FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value,
           d.medq / 100.0 AS med, m2.madq / 100.0 AS mad,
           d.dev > 3.0 * m2.madq AS outlier
         FROM d JOIN m2 ON d.event_type IS NOT DISTINCT FROM m2.event_type
         ORDER BY d.event_id""")),

    Declared("cur17_linfit", (s, dir) => {
      // corpus-scale calibration fit: price ~ quantity per return
      // flag — the chars→tokens / rows→bytes cost-model shape, ONE
      // aggregate pass over exact integer sufficient statistics (no
      // solver, no iteration). slope/intercept/r² are single IEEE
      // steps over exact integers, so DuckDB replays every bit.
      graft.operators.Profiler.linearFitBy(
          t(s, dir, "lineitem"), "l_quantity", "l_extendedprice",
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag").asc)
    },
      // exact integer sufficient statistics (HUGEINT in DuckDB,
      // decimal(38,0) in the engine), routed through BIGINT before the
      // double casts; slope/intercept/r² replay as single IEEE steps
      Some("""WITH q AS (
           SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS xi,
             CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS yi
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         a AS (
           SELECT l_returnflag, count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
             sum(xi*xi) AS sxx, sum(yi*yi) AS syy, sum(xi*yi) AS sxy
           FROM q GROUP BY 1),
         s AS (
           SELECT l_returnflag, n,
             CAST(n*sxy - sx*sy AS BIGINT) AS cov,
             CAST(n*sxx - sx*sx AS BIGINT) AS varx,
             CAST(n*syy - sy*sy AS BIGINT) AS vary,
             CAST(sx AS BIGINT) AS sxl, CAST(sy AS BIGINT) AS syl
           FROM a)
         SELECT l_returnflag, n,
           CASE WHEN varx = 0 THEN NULL
                ELSE CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE) END AS slope,
           CASE WHEN varx = 0 THEN NULL
                ELSE (CAST(syl AS DOUBLE) / CAST(n AS DOUBLE))
                   - (CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE))
                   * (CAST(sxl AS DOUBLE) / CAST(n AS DOUBLE)) END AS intercept,
           CASE WHEN varx = 0 OR vary = 0 THEN NULL
                ELSE (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
                   / (CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)) END AS r2
         FROM s ORDER BY l_returnflag""")),

    Declared("cur16_cusum", (s, dir) => {
      // CUSUM changepoint monitoring on the hourly event-rate series
      // per event type — the sequential shift detector the drift
      // gates feed (a small persistent rate change crosses the CUSUM
      // threshold long before any single hour looks anomalous).
      // Metric = per-(type, hour) counts; micro-quantized integer
      // prefix sums make every cusum value bit-replayable.
      val ev = t(s, dir, "events")
      val metric = ev
        .select(col("event_type"), Streams.eventTsMs(ev, "ts").as("__ms"))
        .groupBy(col("event_type"),
          (expr("__ms DIV 3600000") * 3600L).as("hour"))
        .agg(count(lit(1)).cast("double").as("n"))
      graft.operators.Profiler.cusum(metric, "hour", "n",
          Seq("event_type"), target = 12.0, threshold = 40.0, slack = 1.0)
        .orderBy(col("event_type").asc, col("hour").asc)
    },
      // CUSUM via the prefix-sum identity S_t = P_t − min(0, min P_j):
      // micro-quantized BIGINT deviations make both running windows
      // order-free exact; the dq secondary sort pins duplicate periods
      Some("""WITH m AS (
           SELECT event_type,
             ((epoch_ns(ts) // 1000000) // 3600000) * 3600 AS hour,
             CAST(count(*) AS DOUBLE) AS n
           FROM events GROUP BY 1, 2),
         q AS (
           SELECT event_type, hour, n,
             CAST(floor((n - 12.0 - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS dq
           FROM m),
         p1 AS (
           SELECT event_type, hour, n, dq,
             sum(dq) OVER (PARTITION BY event_type ORDER BY hour, dq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM q),
         p2 AS (
           SELECT event_type, hour, n, pp,
             min(pp) OVER (PARTITION BY event_type ORDER BY hour, dq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
           FROM p1)
         SELECT event_type, hour, n,
           CAST(pp - least(CAST(0 AS BIGINT), mn) AS DOUBLE) / 1000000.0 AS cusum,
           pp - least(CAST(0 AS BIGINT), mn) > 40000000 AS alarm
         FROM p2 ORDER BY event_type, hour""")),

    Declared("cur15_group_ks", (s, dir) => {
      // per-SOURCE numeric drift: +10% n_chars inflation confined to
      // src5 — a corpus-wide KS dilutes the shift ~20x; the grouped
      // gate reads it at full strength in src5 and exactly 0.0 in
      // every other source (identical sides per group). Exact
      // integer-ratio CDF gaps per group, so the oracle replays
      // bit-for-bit.
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      val cur = d.select(col("source"),
        when(col("source") === "src5", col("n_chars") * 1.1)
          .otherwise(col("n_chars").cast("double")).as("n_chars"))
      graft.operators.Profiler.ksDriftBy(d, cur, "n_chars", Seq("source"))
    },
      // per-group KS: cumulative BIGINT counts over the per-group value
      // digests divided by per-group totals — the cur11 integer-ratio
      // discipline, windowed per source instead of range-partitioned
      Some("""WITH u AS (
           SELECT source, CAST(n_chars AS DOUBLE) AS v, 1 AS b, 0 AS c
           FROM documents WHERE n_chars IS NOT NULL
           UNION ALL
           SELECT source,
             CASE WHEN source = 'src5' THEN CAST(n_chars AS DOUBLE) * 1.1
                  ELSE CAST(n_chars AS DOUBLE) END AS v, 0, 1
           FROM documents WHERE n_chars IS NOT NULL),
         d AS (SELECT source, v, sum(b) AS cb, sum(c) AS cc
               FROM u GROUP BY 1, 2),
         t AS (SELECT source, CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(sum(cc) AS BIGINT) AS nc
               FROM d GROUP BY 1 HAVING sum(cb) > 0 AND sum(cc) > 0),
         r AS (SELECT source, v,
                 sum(cb) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb,
                 sum(cc) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
               FROM d)
         SELECT r.source,
           round(max(abs(CAST(rb AS DOUBLE) / CAST(nb AS DOUBLE)
             - CAST(rc AS DOUBLE) / CAST(nc AS DOUBLE))), 6) AS ks,
           max(nb) AS n_base, max(nc) AS n_cur
         FROM r JOIN t ON r.source = t.source
         GROUP BY r.source ORDER BY r.source""")),

    Declared("cur14_pagerank", (s, dir) => {
      // domain-authority ranking over a 1000-node citation graph
      // derived from orders (orderkey-bucket → custkey-bucket):
      // FIXED-POINT integer PageRank, 3 iterations. The scaled-
      // integer recursion is deterministic to the last bit at any
      // partitioning — integer sums are order-free where float sums
      // are not — which is exactly what lets DuckDB replay all three
      // iterations and hash-compare (float PageRank cannot be
      // hash-compared across engines, or even across reruns).
      val o = t(s, dir, "orders")
      val edges = o.select((col("o_orderkey") % 1000).as("src"),
        (col("o_custkey") % 1000).as("dst"))
      graft.operators.Graph.pageRankFp(edges, "src", "dst", numIter = 3)
        .orderBy(col("id").asc)
    },
      // three unrolled iterations of the exact integer recursion —
      // every DIV floors a positive BIGINT, so the replay is bit-exact
      // by construction (the fixed-point design exists FOR this)
      Some("""WITH e AS (
           SELECT DISTINCT o_orderkey % 1000 AS src, o_custkey % 1000 AS dst
           FROM orders WHERE o_orderkey % 1000 <> o_custkey % 1000),
         n AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
         dg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         p AS (SELECT count(*) AS nn FROM n),
         r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM p) AS r FROM n),
         d1 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r0 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i1 AS (SELECT e.dst AS id, sum(r0.r // dg.deg) AS inflow
                FROM e JOIN r0 ON e.src = r0.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i1.inflow, 0)
                      + ((SELECT dang FROM d1) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i1 ON n.id = i1.id),
         d2 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r1 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i2 AS (SELECT e.dst AS id, sum(r1.r // dg.deg) AS inflow
                FROM e JOIN r1 ON e.src = r1.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i2.inflow, 0)
                      + ((SELECT dang FROM d2) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i2 ON n.id = i2.id),
         d3 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r2 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i3 AS (SELECT e.dst AS id, sum(r2.r // dg.deg) AS inflow
                FROM e JOIN r2 ON e.src = r2.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i3.inflow, 0)
                      + ((SELECT dang FROM d3) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i3 ON n.id = i3.id)
         SELECT id, r AS rank_fp,
           round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank
         FROM r3 ORDER BY id""")),

    Declared("q57_interval_join", (s, dir) => {
      // interval×interval OVERLAP join (concurrent validity windows):
      // bucketed equi-join with exactly-once emission from the cell
      // containing max(lo_l, lo_r) — no distinct pass, no BNL or
      // cartesian (plan spec-asserted). Windows: left [100k, 100k+149],
      // right [100k+120, 100k+260] — each left window overlaps its own
      // and the two preceding right windows.
      val o = t(s, dir, "orders")
      val l = o.select(col("o_orderkey").as("l_id"),
        (col("o_orderkey") * 100L).as("l_lo"),
        (col("o_orderkey") * 100L + 149L).as("l_hi"))
      val r = o.select(col("o_orderkey").as("r_id"),
        (col("o_orderkey") * 100L + 120L).as("r_lo"),
        (col("o_orderkey") * 100L + 260L).as("r_hi"))
      graft.operators.RangeJoin.intervalOverlap(l, r, "l_lo", "l_hi",
          "r_lo", "r_hi", bucketWidth = 100.0)
        .select("l_id", "l_lo", "l_hi", "r_id", "r_lo", "r_hi")
        .orderBy(col("l_id").asc, col("r_id").asc)
    },
      // the quadratic definition IS the oracle's job (DuckDB plans it
      // as an IEJoin); the engine's bucketed exactly-once plan must
      // reproduce it row-for-row
      Some("""WITH l AS (
           SELECT o_orderkey AS l_id, o_orderkey * 100 AS l_lo,
             o_orderkey * 100 + 149 AS l_hi FROM orders),
         r AS (
           SELECT o_orderkey AS r_id, o_orderkey * 100 + 120 AS r_lo,
             o_orderkey * 100 + 260 AS r_hi FROM orders)
         SELECT l_id, l_lo, l_hi, r_id, r_lo, r_hi
         FROM l, r
         WHERE l_lo <= r_hi AND r_lo <= l_hi
         ORDER BY l_id, r_id""")),

    Declared("q56_merge_snapshot", (s, dir) => {
      // incremental snapshot maintenance (the crawl-refresh merge):
      // base = orders snapshot; batch tombstones every %10==0 key,
      // re-prices every %10==5 key (+1000), inserts fresh keys
      // (%10==3, shifted +100000000). ONE key-shuffle: left-anti join
      // against the changed-key set + union of upserts; a typical
      // small batch broadcasts (AQE), a full-size one degrades to one
      // sort-merge join — never more.
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      val deletes = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"), lit("delete").as("op"))
      val updates = base.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderstatus"), lit("upsert").as("op"))
      val inserts = base.filter(col("o_orderkey") % 10 === 3)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus"),
          lit("upsert").as("op"))
      graft.operators.Snapshot.merge(base,
          deletes.unionByName(updates).unionByName(inserts),
          keyCols = Seq("o_orderkey"))
        .orderBy(col("o_orderkey").asc)
    },
      Some("""WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         FROM base WHERE o_orderkey % 10 NOT IN (0, 5)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus
         FROM base WHERE o_orderkey % 10 = 5
         UNION ALL
         SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderstatus
         FROM base WHERE o_orderkey % 10 = 3
         ORDER BY o_orderkey"""))
  )
  require(declared.map(_.name).distinct.size == declared.size,
    "declared query names repeat: " + declared.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n }.mkString(", "))

  /** Name → build. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.build).toMap

  /** Name → DuckDB SQL, for every query that has an oracle. */
  val oracleSql: Map[String, String] =
    declared.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** `names` as given, when it is non-empty and every name is declared.
    * `what` names the caller in the error: an empty or misspelt list
    * would otherwise run nothing and report that as healthy. */
  def requireDeclared(names: Seq[String], what: String): Seq[String] = {
    require(names.nonEmpty, s"$what names no queries")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"$what names undeclared queries: ${unknown.mkString(", ")}")
    names
  }
}
