package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashing
import graft.ops.{CorpusOps, TextOps}
import org.apache.spark.sql.functions._
import OracleFrags._

/** Training-corpus preparation operators beyond dedup/similarity: the
  * benchmark-decontamination, chunking, splitting, and repetition-scoring
  * passes an LLM data pipeline runs between "filtered corpus" and
  * "training shards". All are narrow maps or equality-keyed joins/aggs —
  * the 100 TB-safe shapes (no all-pairs, no driver loops).
  */
object CorpusQueries {

  /** Chunk size (tokens) for the concat-and-chunk pass. Small enough that
    * the sf fixtures produce multi-chunk shards and boundary-spanning
    * docs, which is what the oracle needs to actually check. */
  private val ChunkTokens = 64L

  /** Training-sequence length for the BPE-token packing pass — small
    * enough that fixture docs regularly CROSS sequence boundaries (the
    * bookkeeping under test). final val: interpolated into oracle SQL
    * at object init. */
  private final val PackSeqLen = 128L

  /** Per-cluster quota for the cluster-balanced sampler (final val:
    * interpolated into oracle SQL at object init). */
  private final val SampPerCell = 8

  /** Hash-bucket count + super-bucket width for the SHUFFLED packing —
    * small enough that all three prefix levels carry on the fixtures
    * (production defaults are 2^20 / 1024; see packSpansShuffled). */
  private final val ShufBuckets = 256L
  private final val ShufWidth = 16L

  /** Per-doc trained-BPE token counts (doc_id, n) — the packing
    * queries' input, composing packing with the fit→apply tokenizer;
    * session-staged (Staged.bpeDocTokens) since three queries read it. */
  private def bpeDocTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Staged.bpeDocTokens(s, dir)

  /** Oracle prelude: TextQueries.bpeApplyWith extended to the packed
    * span table (`spans(doc_id, n, o, s0, s1)`) — BPE token counts,
    * global doc_id-ordered exclusive prefix sum, sequence range per
    * doc. The oracle's single global window is semantically identical
    * to the Spark side's hierarchical two-level prefix. */
  private lazy val packSpansWith: String =
    s"""${TextQueries.bpeApplyWith},
       |dt AS (SELECT doc_id, CAST(len(list_filter(
       |  string_split(trim(s), ' '), x -> x <> '|' AND x <> ''))
       |  AS BIGINT) AS n FROM fin),
       |off AS (SELECT doc_id, n,
       |  coalesce(sum(n) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM dt WHERE n > 0),
       |spans AS (SELECT doc_id, n, CAST(o AS BIGINT) AS o,
       |  CAST(o // $PackSeqLen AS BIGINT) AS s0,
       |  CAST((o + n - 1) // $PackSeqLen AS BIGINT) AS s1
       |  FROM off)""".stripMargin.replace("\n", " ")

  /** Shared manifest tail over an exploded span relation `x(doc_id, n,
    * o, s0, s1, seq_id)`. */
  private lazy val packManifestSelect: String =
    s"""SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |CAST(sum(CASE WHEN s0 = seq_id THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_starts,
       |min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |CAST(sum(least((seq_id + 1) * $PackSeqLen, o + n)
       |  - greatest(seq_id * $PackSeqLen, o)) AS BIGINT) AS n_tokens
       |FROM x GROUP BY seq_id""".stripMargin.replace("\n", " ")

  val all: Seq[Q] = Seq(

    // Benchmark decontamination: flag training docs sharing any word
    // 3-gram with a held-out eval set (here: doc_id % 50 == 0 plays the
    // benchmark). The shape is the standard n-gram-overlap contamination
    // check (GPT-3 appendix C / PaLM style): build one inverted shingle
    // index, distinct the (small) benchmark side, broadcast it into an
    // equality hash-join keyed by the 60-bit shingle hash, hash-aggregate
    // per doc. At 100 TB the benchmark side stays tiny (benchmarks are
    // MBs), so the broadcast join never shuffles the corpus — each corpus
    // partition streams once. Index is session-staged (shared with the
    // dedup_ngram_* family).
    Q("decontaminate_ngram",
      (s, dir) => {
        val (ds, sizes) = Staged.shingleIndex(s, dir, 3)
        CorpusOps.decontaminate(ds, sizes, col("doc_id") % 50 === 0)
          .orderBy("doc_id")
      },
      s"""WITH dsh AS (${docShingleHashes(3)}),
         |bench AS (SELECT DISTINCT sh_h FROM dsh WHERE doc_id % 50 = 0),
         |sizes AS (SELECT doc_id, CAST(len(${shingles(toks, 3)}) AS BIGINT) AS n_sh
         |  FROM documents WHERE doc_id % 50 <> 0),
         |hits AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM dsh a JOIN bench b ON a.sh_h = b.sh_h
         |  WHERE a.doc_id % 50 <> 0 GROUP BY 1)
         |SELECT s.doc_id, s.n_sh, coalesce(h.n_hits, 0) AS n_hits,
         |CASE WHEN s.n_sh = 0 THEN 0.0
         |  ELSE round(coalesce(h.n_hits, 0) / CAST(s.n_sh AS DOUBLE), 6)
         |END AS contamination
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         |ORDER BY s.doc_id""".stripMargin.replace("\n", " ")),

    // The curation FUNNEL — the whole training-data pipeline composed
    // end to end, reported as per-stage survivor counts: raw corpus →
    // quality gate (score ≥ 0.5, ≥ 20 tokens) → near-dup removal
    // (cluster representatives survive) → benchmark decontamination
    // (eval docs and every doc sharing a 3-gram with them dropped).
    // Every stage reuses the session-staged artifact its standalone
    // query uses (shingle index, dup clusters), so the funnel proves
    // the operators COMPOSE — one oracle statement replays all four
    // stages and the counts must match stage by stage. At 100 TB each
    // stage is the same bounded machinery as its standalone query; the
    // funnel adds only four 1-row aggregates.
    Q("curation_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val quality = graft.ops.TextOps.qualityScore(docs)
        val clusters = Staged.dupClusters(s, dir, 3, 0.5)
        val s1 = quality
          .filter(col("quality_score") >= 0.5 && col("n_tokens") >= 20)
          .select(col("doc_id"))
        val s2 = s1.join(clusters, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull ||
            col("cluster_id") === col("doc_id"))
          .select(col("doc_id"))
        val (ds, sizes) = Staged.shingleIndex(s, dir, 3)
        val clean = graft.ops.CorpusOps
          .decontaminate(ds, sizes, col("doc_id") % 50 === 0)
          .filter(col("n_hits") === 0)
          .select(col("doc_id"))
        val s3 = s2.filter(col("doc_id") % 50 =!= 0)
          .join(clean, Seq("doc_id"), "left_semi")
        def stage(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(name).as("stage"),
              col("n_docs").cast("long").as("n_docs"))
        stage("a0_raw", docs)
          .unionByName(stage("a1_quality", s1))
          .unionByName(stage("a2_dedup", s2))
          .unionByName(stage("a3_decontaminated", s3))
          .orderBy("stage")
      },
      s"""${dupClustersWith(3, 0.5)},
         |qs AS ($qualityScoreSql),
         |s1 AS (SELECT doc_id FROM qs
         |  WHERE quality_score >= 0.5 AND n_tokens >= 20),
         |s2 AS (SELECT s1.doc_id FROM s1
         |  LEFT JOIN clusters c ON s1.doc_id = c.doc_id
         |  WHERE c.cluster_id IS NULL OR c.cluster_id = s1.doc_id),
         |fdsh AS (${docShingleHashes(3)}),
         |fbench AS (SELECT DISTINCT sh_h FROM fdsh WHERE doc_id % 50 = 0),
         |fhits AS (SELECT a.doc_id FROM fdsh a
         |  JOIN fbench b ON a.sh_h = b.sh_h
         |  WHERE a.doc_id % 50 <> 0 GROUP BY 1),
         |s3 AS (SELECT s2.doc_id FROM s2
         |  WHERE s2.doc_id % 50 <> 0
         |  AND s2.doc_id NOT IN (SELECT doc_id FROM fhits))
         |SELECT stage, n_docs FROM (
         |  SELECT 'a0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents
         |  UNION ALL SELECT 'a1_quality', CAST(count(*) AS BIGINT) FROM s1
         |  UNION ALL SELECT 'a2_dedup', CAST(count(*) AS BIGINT) FROM s2
         |  UNION ALL SELECT 'a3_decontaminated', CAST(count(*) AS BIGINT)
         |  FROM s3)
         |ORDER BY stage""".stripMargin.replace("\n", " ")),

    // Concat-and-chunk: documents are concatenated per (lang, source)
    // shard in doc_id order and cut into fixed token-length chunks — the
    // sequence-packing step that turns a corpus into training examples.
    // Chunk ids come from a running token total (one window pass per
    // shard); a doc's [start_chunk, end_chunk] span shows boundary
    // crossings. Sharding by (lang, source) is what makes this
    // distributed at 100 TB: each shard's prefix sum is an independent
    // partition, no global order.
    Q("corpus_chunks",
      (s, dir) => CorpusOps
        .chunkSpans(Tables.documents(s, dir), ChunkTokens)
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, lang, source,
         |  CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang, source
         |  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
         |SELECT doc_id, lang, source, n_tokens,
         |(cum - n_tokens) // $ChunkTokens AS start_chunk,
         |(cum - 1) // $ChunkTokens AS end_chunk,
         |(cum - 1) // $ChunkTokens - (cum - n_tokens) // $ChunkTokens + 1 AS n_chunks
         |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    // Deterministic train/val/test split: a content-independent hash of
    // the doc id buckets every row into 90/5/5 — reproducible across
    // runs, machines, and engines (md5, not engine-local xxhash), and
    // embarrassingly parallel (pure narrow map, no shuffle before the
    // summary agg). Output is the per-(split, lang) manifest a training
    // job reads.
    // Leakage-proof splitting — the near-dup-aware form of
    // corpus_split: hashing the DOC id can land two near-duplicates on
    // opposite sides of train/test (eval contamination, the leakage
    // decontaminate_ngram guards against benchmark-wise). Keying the
    // split hash by the doc's DEDUP CLUSTER id instead (its own id when
    // unclustered) provably keeps every near-dup pair on one side.
    // Output: the two-scheme audit — doc counts per side and the
    // straddling-pair count, 0 by construction for the cluster scheme
    // (the hash rides the shared key, so the 0 is structural, not
    // statistical). Cost: the staged cluster labels + pair set (shared
    // with dedup_clusters/corpus_select) and two tiny audits; the only
    // per-doc work is one left join against the label table.
    Q("corpus_split_leakproof",
      (s, dir) => {
        val pairs = Staged.ngramPairs(s, dir, 3, 0.5)
          .select(col("doc_a"), col("doc_b"))
        val keyed = Tables.documents(s, dir).select(col("doc_id"))
          .join(Staged.dupClusters(s, dir, 3, 0.5), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("skey"))
        def side(c: org.apache.spark.sql.Column) =
          when(Hashing.md5Long(c.cast("string")) % 100 < 90,
            lit("train")).otherwise(lit("test"))
        def audit(assign: org.apache.spark.sql.DataFrame, scheme: String) = {
          val a = assign.select(col("doc_id").as("doc_a"),
            col("split").as("sa"))
          val b = assign.select(col("doc_id").as("doc_b"),
            col("split").as("sb"))
          pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
            .agg(count(lit(1)).as("n_pairs"),
              // coalesce: sum over an EMPTY pair set is NULL while the
              // oracle's count(*) subquery is 0 — degrade to 0/0 alike
              coalesce(sum((col("sa") =!= col("sb")).cast("long")),
                lit(0L)).as("n_straddling"))
            .crossJoin(assign.agg(
              sum((col("split") === "train").cast("long")).as("n_train"),
              sum((col("split") === "test").cast("long")).as("n_test")))
            .select(lit(scheme).as("scheme"), col("n_train"),
              col("n_test"), col("n_pairs"), col("n_straddling"))
        }
        audit(keyed.select(col("doc_id"), side(col("doc_id")).as("split")),
            "doc_hash")
          .unionByName(audit(
            keyed.select(col("doc_id"), side(col("skey")).as("split")),
            "cluster_hash"))
          .orderBy("scheme")
      },
      s"""${dupClustersWith(3, 0.5)},
         |keyed AS (SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS skey
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
         |asg AS (SELECT doc_id,
         |  CASE WHEN ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100
         |    < 90 THEN 'train' ELSE 'test' END AS s_doc,
         |  CASE WHEN ${Hashing.sqlMd5Long("CAST(skey AS VARCHAR)")} % 100
         |    < 90 THEN 'train' ELSE 'test' END AS s_cl
         |  FROM keyed)
         |SELECT * FROM (
         |  SELECT 'doc_hash' AS scheme,
         |    (SELECT CAST(count(*) AS BIGINT) FROM asg
         |      WHERE s_doc = 'train') AS n_train,
         |    (SELECT CAST(count(*) AS BIGINT) FROM asg
         |      WHERE s_doc = 'test') AS n_test,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pairs p
         |      JOIN asg x ON p.doc_a = x.doc_id
         |      JOIN asg y ON p.doc_b = y.doc_id
         |      WHERE x.s_doc <> y.s_doc) AS n_straddling
         |  UNION ALL
         |  SELECT 'cluster_hash',
         |    (SELECT CAST(count(*) AS BIGINT) FROM asg
         |      WHERE s_cl = 'train'),
         |    (SELECT CAST(count(*) AS BIGINT) FROM asg
         |      WHERE s_cl = 'test'),
         |    (SELECT CAST(count(*) AS BIGINT) FROM pairs),
         |    (SELECT CAST(count(*) AS BIGINT) FROM pairs p
         |      JOIN asg x ON p.doc_a = x.doc_id
         |      JOIN asg y ON p.doc_b = y.doc_id
         |      WHERE x.s_cl <> y.s_cl))
         |ORDER BY scheme""".stripMargin.replace("\n", " ")),

    Q("corpus_split",
      (s, dir) => {
        val bucket = Hashing.md5Long(col("doc_id").cast("string")) % 100
        Tables.documents(s, dir)
          .select(col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            when(bucket < 90, lit("train"))
              .when(bucket < 95, lit("val"))
              .otherwise(lit("test")).as("split"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
          .orderBy("split", "lang")
      },
      s"""SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM (
         |  SELECT lang, CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |       WHEN ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split FROM documents)
         |GROUP BY split, lang ORDER BY split, lang"""
        .stripMargin.replace("\n", " ")),

    // Within-document repetition scoring (the Gopher/MassiveText "
    // repetitious text" signal): per doc, the frequency profile of its
    // word bigrams — total, distinct, the top bigram's share, and the
    // distinct/total ratio. Explode + two hash-aggs keyed by doc; narrow
    // per-doc work that scales linearly. Non-distinct bigrams here
    // (repetition is the point), vs the distinct shingles dedup uses.
    Q("doc_repetition",
      (s, dir) => CorpusOps.bigramProfile(Tables.documents(s, dir))
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents
         |  WHERE len($toks) >= 2),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |  i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t),
         |c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         |CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |CAST(MAX(cnt) AS BIGINT) AS max_count,
         |round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_bigram_frac,
         |round(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS distinct_frac
         |FROM c GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replace("\n", " ")),

    // Epoch-weighted corpus expansion: quality-weighted sampling done
    // deterministically — a doc with quality q is repeated floor(4q)+1
    // times (1..5 epochs) and each copy is hash-assigned to one of 8
    // shards, so higher-quality text is over-represented in the training
    // mix with zero RNG (the engine-portable md5 hash replaces the
    // sampler; both engines derive the identical expansion). Narrow
    // explode bounded at 5× input, no shuffle — the LLaMA-style
    // "dataset epochs" mixing shape at 100 TB.
    // The pipeline's LAST MILE: materialize the corpus as hash-bucketed
    // training shards (partitionBy(shard) parquet — one directory per
    // shard, the layout a trainer's data loader consumes) and answer
    // the per-shard manifest FROM the written shards, so the oracle
    // proves the write was complete and partition-correct, not just
    // that the plan was right. Deterministic hash sharding: no RNG,
    // both engines derive the same manifest. At 100 TB this is the
    // standard one-shuffle repartition-by-shard write; the manifest agg
    // is 8 rows.
    Q("corpus_shards_write",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_shards", dir)
        val sharded = Tables.documents(s, dir).select(
          col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          (Hashing.md5Long(col("doc_id").cast("string")) % 8)
            .cast("int").as("shard"))
        sharded.repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(s"$work/shards")
        s.read.parquet(s"$work/shards")
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .select(col("shard").cast("int").as("shard"), col("n_docs"),
            col("n_tokens"), col("min_doc"), col("max_doc"))
          .orderBy("shard")
      },
      s"""SELECT CAST(${Hashing.sqlMd5Long(
             "CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
         |CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(SUM(len($toks)) AS BIGINT) AS n_tokens,
         |min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents GROUP BY shard ORDER BY shard"""
        .stripMargin.replace("\n", " ")),

    // Sequence packing — the real last mile between "tokenized corpus"
    // and "what the trainer reads": concatenate the (trained-BPE)
    // token stream in doc_id order, chop every PackSeqLen tokens, and
    // report the per-sequence manifest — docs touching, docs STARTING
    // (the cross-doc attention-mask bookkeeping), first/last doc, and
    // fill (= PackSeqLen everywhere but the tail; BoundarySpec-style
    // invariants live in PackSpec). The global prefix sum runs as a
    // hierarchical two-level window (CorpusOps.packSpans) — never a
    // single-task global sort; the oracle's plain global cumsum is the
    // semantic spec.
    Q("corpus_pack_sequences",
      (s, dir) => CorpusOps.packManifest(
          CorpusOps.packSpans(bpeDocTokens(s, dir), PackSeqLen), PackSeqLen)
        .orderBy("seq_id"),
      s"""$packSpansWith,
         |x AS (SELECT doc_id, n, o, s0, s1,
         |  unnest(generate_series(s0, s1)) AS seq_id FROM spans)
         |$packManifestSelect ORDER BY seq_id"""
        .stripMargin.replace("\n", " ")),

    // ...and the MATERIALIZED form: the exploded (sequence, doc) span
    // rows — each with its within-sequence token offset, the loader's
    // actual input — written as pack_shard-partitioned parquet
    // (shard = seq_id % 8, the standard one-shuffle partitionBy
    // write), and the manifest answered FROM the written files, so the
    // oracle proves the shards are complete and partition-correct,
    // exactly like corpus_shards_write proves the doc shards.
    Q("corpus_pack_write",
      (s, dir) => {
        val work = graft.util.Fs.freshWorkDir("graft_pack", dir)
        val spans = CorpusOps.packSpans(bpeDocTokens(s, dir), PackSeqLen)
        val rows = spans.select(col("doc_id"), col("n"), col("o"),
            col("s0"), explode(sequence(col("s0"), col("s1"))).as("seq_id"))
          .select(col("seq_id"), col("doc_id"), col("s0"),
            (greatest(col("seq_id") * PackSeqLen, col("o"))
              - col("seq_id") * PackSeqLen).as("tok_start"),
            (least((col("seq_id") + 1) * PackSeqLen, col("o") + col("n"))
              - greatest(col("seq_id") * PackSeqLen, col("o"))).as("n_tok"),
            (col("seq_id") % 8).cast("int").as("pack_shard"))
        rows.repartition(col("pack_shard"))
          .write.mode("overwrite").partitionBy("pack_shard")
          .parquet(s"$work/packed")
        s.read.parquet(s"$work/packed")
          .groupBy(col("seq_id"), col("pack_shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s0") === col("seq_id"), 1L).otherwise(0L))
              .as("n_starts"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            sum(col("n_tok")).as("n_tokens"))
          .select(col("seq_id"), col("pack_shard"), col("n_docs"),
            col("n_starts"), col("first_doc"), col("last_doc"),
            col("n_tokens"))
          .orderBy("seq_id")
      },
      s"""$packSpansWith,
         |x AS (SELECT doc_id, n, o, s0, s1,
         |  unnest(generate_series(s0, s1)) AS seq_id FROM spans),
         |m AS ($packManifestSelect)
         |SELECT seq_id, CAST(seq_id % 8 AS INT) AS pack_shard, n_docs,
         |n_starts, first_doc, last_doc, n_tokens
         |FROM m ORDER BY seq_id""".stripMargin.replace("\n", " ")),

    // The SHUFFLED form of sequence packing — the order a trainer
    // actually packs (docs pseudo-shuffled before concatenation so no
    // sequence sees one source's docs in a row), with the shuffle
    // deterministic and RNG-free: global order = (md5(doc_id) mod 256,
    // md5, doc_id). Hash sparsity breaks doc_id-range bucketing, so
    // the hierarchy folds the hash into a FIXED bucket count — the
    // top window over ≤ nBuckets/width rows is CONSTANT-size at any
    // corpus (see ops.CorpusOps.packSpansShuffled). The oracle replays
    // the same hash order through one global cumsum; PackSpec proves
    // the decomposition ≡ naive and that the packed order is a real
    // permutation of the doc-ordered packing (same totals, different
    // sequence assignment).
    Q("corpus_pack_shuffled",
      (s, dir) => CorpusOps.packManifest(
          CorpusOps.packSpansShuffled(bpeDocTokens(s, dir), PackSeqLen,
            ShufBuckets, ShufWidth), PackSeqLen)
        .orderBy("seq_id"),
      s"""$packSpansWith,
         |soff AS (SELECT doc_id, n,
         |  coalesce(sum(n) OVER (ORDER BY (H % $ShufBuckets), H, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |  FROM (SELECT doc_id, n,
         |    ${Hashing.sqlMd5Long("CAST(doc_id AS VARCHAR)")} AS H
         |    FROM dt WHERE n > 0)),
         |sspans AS (SELECT doc_id, n, CAST(o AS BIGINT) AS o,
         |  CAST(o // $PackSeqLen AS BIGINT) AS s0,
         |  CAST((o + n - 1) // $PackSeqLen AS BIGINT) AS s1
         |  FROM soff),
         |x AS (SELECT doc_id, n, o, s0, s1,
         |  unnest(generate_series(s0, s1)) AS seq_id FROM sspans)
         |$packManifestSelect ORDER BY seq_id"""
        .stripMargin.replace("\n", " ")),

    // Temperature-weighted mixture sampling (α = 0.5): the
    // multilingual rebalancing that samples language l ∝ p_l^α —
    // tail languages upweighted relative to their raw share — done
    // with zero RNG: per-language quotas from the α-tempered shares,
    // filled by smallest md5(doc_id) (the portable seeded-sampler
    // stand-in). The full selected set hash-matches the oracle, so
    // quota arithmetic AND the per-language fill are both pinned.
    Q("corpus_temperature_mix",
      (s, dir) => CorpusOps.temperatureMix(Tables.documents(s, dir), 0.5)
        .orderBy("doc_id"),
      s"""WITH q0 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
         |  FROM documents GROUP BY lang),
         |q1 AS (SELECT lang, n_l, sum(n_l) OVER (ORDER BY lang
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |  AS n_total FROM q0),
         |q2 AS (SELECT lang, n_l, n_total,
         |  pow(CAST(n_l AS DOUBLE) / n_total, 0.5) AS w FROM q1),
         |q3 AS (SELECT lang, n_l,
         |  CAST(floor(round(((n_total // 2) * w) / sum(w) OVER (
         |    ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    UNBOUNDED FOLLOWING), 6)) AS BIGINT) AS quota FROM q2),
         |r AS (SELECT doc_id, lang, CAST(row_number() OVER (
         |  PARTITION BY lang ORDER BY ${Hashing.sqlMd5Long(
             "CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS BIGINT)
         |  AS samp_rank FROM documents)
         |SELECT r.doc_id, r.lang, r.samp_rank, q3.quota
         |FROM r JOIN q3 USING (lang) WHERE samp_rank <= quota
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

    Q("corpus_epochs",
      (s, dir) => CorpusOps.epochExpansion(
          TextOps.qualityScore(Tables.documents(s, dir))
            .select("doc_id", "lang", "quality_score"), 8)
        .orderBy("doc_id", "epoch_idx"),
      s"""WITH q AS ($qualityScoreSql),
         |e AS (SELECT doc_id, lang, quality_score,
         |  CAST(floor(quality_score * 4) + 1 AS INT) AS n_epochs FROM q),
         |x AS (SELECT doc_id, lang, quality_score, n_epochs,
         |  CAST(unnest(generate_series(1, n_epochs)) AS INT) AS epoch_idx
         |  FROM e)
         |SELECT doc_id, lang, quality_score, n_epochs, epoch_idx,
         |CAST(${Hashing.sqlMd5Long(
               "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch_idx AS VARCHAR)")} % 8 AS INT)
         |  AS shard
         |FROM x ORDER BY doc_id, epoch_idx"""
        .stripMargin.replace("\n", " ")),

    // Cluster-balanced (diversity-preserving) corpus sampling: a
    // uniform per-cluster quota over the IVF cells instead of a
    // corpus-uniform draw — the DataComp/SemDedup-style selector that
    // keeps tail clusters represented when head clusters dominate the
    // raw distribution. Deterministic pseudo-random order within a
    // cluster via the portable md5 hash (the temperature-mix sampler
    // convention). At scale: assignment is the linear IVF pass with
    // broadcast centroids; the per-cell window sees ≤ |cell| rows and
    // emits ≤ m — skewed head cells cost their scan, never their
    // quadratic.
    Q("cluster_balanced_sample",
      (s, dir) => {
        val assigned = graft.ops.SimilarityOps.assignCellsNorm(
          Staged.normCorpus(s, dir), Staged.ivfCentroids(s, dir, 16), 1)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cell"))
          .orderBy(col("h").asc, col("vec_id").asc)
        assigned.select(col("cell"), col("vec_id"),
            Hashing.h31(col("vec_id").cast("string")).as("h"))
          .withColumn("samp_rank", row_number().over(w))
          .filter(col("samp_rank") <= SampPerCell)
          .select(col("cell"), col("samp_rank").cast("int").as("samp_rank"),
            col("vec_id"))
          .orderBy("cell", "samp_rank")
      },
      s"""WITH corpus AS (${OracleFrags.normCorpus}),
         |cents AS (SELECT * FROM ${OracleFrags.ivfCentroids(16)}),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.centroid_id AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${OracleFrags.dotCosine("e.n_emb", "c.c_emb")} DESC,
         |      c.centroid_id ASC) AS rn
         |    FROM corpus e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |hashed AS (SELECT cell, vec_id,
         |  ${Hashing.sqlH31("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM assigned)
         |SELECT cell, CAST(rnk AS INT) AS samp_rank, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |    ORDER BY h ASC, vec_id ASC) AS rnk FROM hashed)
         |WHERE rnk <= $SampPerCell
         |ORDER BY cell, samp_rank""".stripMargin.replace("\n", " "))
  )
}
