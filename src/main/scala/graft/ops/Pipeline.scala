package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** pp04: the end-to-end pretraining-pipeline capstone — every data-prep
  * stage the LLM operator inventory exists for, composed into ONE query
  * with per-stage attrition accounting:
  *
  *   raw → train/eval split → quality gate → language gate → exact dedup
  *   → near-dup keep-first → semantic dedup → decontamination
  *   → source mixture → example packing
  *
  * Every stage reuses the PROVEN builder of its standalone operator, so the
  * composition is by construction the same arithmetic the registry already
  * oracle-checks piecewise:
  *   - gates: tx02's [[TextOps.qualityCol]] + tx01's [[TextOps.predLangCol]]
  *     (pp01/pp02's shared-builder discipline),
  *   - exact dedup: pp02's survivors-first fingerprint window,
  *   - near-dup: dd04's banded-LSH + exact-verify machinery
  *     ([[Dedup.verifiedPairsFrom]]) over the exact-dedup survivors — the
  *     greedy keep-first rule (drop the larger id of every verified pair),
  *   - semantic dedup: dd11's adaptive-K assignment ([[Similarity]]) with
  *     the ClusterCap census; pairs are mined over the exact-dedup
  *     survivors and the near-dup restriction is re-applied as an id-only
  *     anti-join (output-identical — see the inline note — which is what
  *     lets the mining run concurrently with the LSH verify),
  *   - decontamination: dc01's distinct benchmark-shingle join (the bench
  *     split bk ≥ 95 is excluded from training by the FIRST stage, so the
  *     pipeline never trains on its own eval set),
  *   - mixture: sp05's per-source deterministic md5-rank token budget,
  *   - packing: sp12's greedy 1024-token example assignment.
  *
  * ONE corpus pass computes every per-doc gate input (tokens, quality,
  * language, fingerprint, hash bucket, shingle set) — the stage flags are
  * conditional columns on that persisted relation (pp02's pattern), and
  * the later set-valued stages (near-dup / semantic / contamination drop
  * sets, all id-only and broadcast-sized) attach by left joins. No stage
  * re-scans the corpus.
  *
  * Scale notes (100 TB): the corpus relation is scanned once and cached;
  * near-dup work is the dd04 bounded-LSH shape over the (strictly smaller)
  * survivor set; semantic-dedup work is dd11's bounded within-cluster
  * shape; the drop sets joined back are bounded by pair counts, not corpus
  * size; mixture + packing use the sp05/sp12 two-level prefix sums whose
  * only sequential windows run over block summaries. The final output is
  * ten rows.
  *
  * Output: (stage_ord, stage, n_units, n_tokens) — n_units is documents
  * for stages 0-8 and packed EXAMPLES for stage 9 (its token sum equals
  * stage 8's by conservation, which the oracle checks for free).
  */
object Pipeline {
  import Tables.t

  /** sp05's per-source token budget applied to the pipeline survivors. */
  private val Budget = 800L

  /** sp12's example length. */
  private val ExampleTokens = 1024L

  /** dd11's semantic-duplicate threshold and cluster census cap. */
  private val Tau = 0.3
  private val ClusterCap = 4096L

  /** Contamination gate: a survivor is dropped when at least HALF its
    * distinct 3-gram shingles appear in the benchmark split (integer form
    * `2*n_shared >= n_sh` — no cross-engine float threshold). dc01 REPORTS
    * the per-doc count; the pipeline GATES on it — and the rule matters:
    * an "any shared shingle" rule would drop ~90% of survivors on generic
    * trigram noise (the fixture median is 3 shared shingles per doc), and
    * an absolute count doesn't transfer across scales (the bench split's
    * shingle space grows with the corpus: ≥8 drops 2% at sf0.01 but 95% at
    * sf0.1). The fractional rule is the passage-level-leakage semantics a
    * real decontamination pass wants, and stays populated at every
    * fixture scale (2 docs at sf0.01, ~11% at sf0.1 — the synthetic
    * corpus shares a template vocabulary, so overlap genuinely grows). */

  /** Run `jobs` at once from a thread pool, each thunk's Spark jobs in its
    * own job group described "`prefix`: label". On the first failure every
    * group's running and future jobs are cancelled, and every thunk is
    * awaited before the failure is rethrown: no sibling job outlives the
    * call. A cancelled job's caller wakes before the scheduler posts the
    * job's end, so the rethrow also waits (up to 30 s, then logs and gives
    * up) until the status tracker shows no job of these groups running. */
  private[ops] def concurrently(s: SparkSession, prefix: String)(jobs: (String, () => Any)*): Unit = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
    val sc = s.sparkContext
    val groups = jobs.map { case (label, _) => s"$prefix: $label ${java.util.UUID.randomUUID}" }
    val pool = Executors.newFixedThreadPool(jobs.size)
    val done = new ExecutorCompletionService[Any](pool)
    try {
      jobs.zip(groups).foreach { case ((label, body), group) =>
        done.submit { () =>
          sc.setJobGroup(group, s"$prefix: $label", interruptOnCancel = true)
          try body() finally sc.clearJobGroup()
        }
      }
      var failure: Throwable = null
      jobs.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          if (failure == null) { failure = e.getCause; groups.foreach(sc.cancelJobGroupAndFutureJobs) }
        }
      }
      if (failure != null) {
        val tracker = sc.statusTracker
        def running = groups.exists(g => tracker.getJobIdsForGroup(g).exists(id =>
          tracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING)))
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (running && System.nanoTime() < deadline) Thread.sleep(10)
        if (running) org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"concurrently($prefix): a cancelled job still runs after 30 s; rethrowing without it")
        throw failure
      }
    } finally pool.shutdown()
  }

  val entries: Seq[Q] = Seq(
    Q("pp04_pretraining_pipeline",
      (s, d) => {
        val nDocs = Tables.rowCount(s, d, "documents")
        val blockSize = Sampling.blockSizeFor(nDocs, s.sparkContext.defaultParallelism)
        val tokens = TextOps.tokensCol

        // ---- the ONE corpus pass: every per-doc gate input + row-local
        // stage flags; the fingerprint window is the only shuffle (pp02's
        // survivors-first ordering keeps rn=1 on a surviving doc) ----
        val wFp = Window.partitionBy(col("fp")).orderBy(col("en_ok").desc, col("doc_id"))
        val flagged = Tables.spread(t(s, d, "documents"))
          .select(col("doc_id"), col("source"), tokens.as("tokens"),
            TextOps.qualityCol.as("quality"), TextOps.predLangCol.as("pred_lang"),
            TextOps.exactFpCol.as("fp"),
            Sampling.hashBucket(col("doc_id")).as("bk"),
            graft.spark.SketchExpressions.shingleHashes(col("text")).as("sh"))
          .withColumn("train", col("bk") < 95)
          .withColumn("q_ok", col("train") && col("quality") >= 0.5)
          .withColumn("en_ok", col("q_ok") && col("pred_lang") === "en")
          .withColumn("uniq", col("en_ok") && row_number().over(wFp) === 1)
          // quality/pred_lang/fp are SPENT once the flags exist — no later
          // stage reads them, so persisting them (a double, a string, a
          // 32-char md5 per doc) was dead cache bytes + GC (guide §2.3, the
          // same narrowing the r16 round applied to the dc checkpoint)
          .select(col("doc_id"), col("source"), col("tokens"), col("bk"),
            col("sh"), col("train"), col("q_ok"), col("en_ok"), col("uniq"))
          .persist() // read by every later stage: gates, LSH base, bench
                     // shingles, contamination probe, final aggregation

        // ---- near-dup keep-first over the exact-dedup survivors: dd04's
        // verified pairs (banded LSH + exact Jaccard >= 0.3), greedy rule =
        // drop the larger id of every verified pair. The id-only drop set
        // is bounded by the pair count — broadcast-sized. ----
        val survBase = flagged.filter(col("uniq"))
          .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
          .persist() // the verifiedPairsFrom contract (read three times)
        val ndDrop = Dedup.verifiedPairsFrom(survBase)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("nd_hit", lit(1))
          .persist() // id-only drop set; referenced by THREE downstream
                     // subtrees (sv, sem, dc) — unpersisted, the whole LSH
                     // pipeline would re-execute once per reference
        val nd = flagged.join(ndDrop, Seq("doc_id"), "left")
          .withColumn("nd_ok", col("uniq") && col("nd_hit").isNull)

        // ---- semantic dedup among the near-dup survivors: dd11's
        // adaptive-K assignment over the FULL embedding table (the cluster
        // map is survivorship-independent, exactly like dd11), ClusterCap
        // census on the full assignment. Pair MINING runs over the exact-
        // dedup (`uniq`) survivors rather than the near-dup (`nd_ok`) ones
        // so it no longer depends on the LSH-verify barrier (guide §2.6 —
        // the two heaviest subtrees become concurrent); the nd_ok
        // restriction is re-applied afterwards as an id-only anti-join on
        // the KEEPER endpoint. Output-identical by construction:
        //   - a pair (ia < ib) with BOTH ends nd_ok appears in both
        //     formulations (uniq ⊇ nd_ok, the census is survivorship-
        //     independent, and the anti-join keeps ia when it is nd_ok);
        //   - a pair whose ia is nd-dropped is removed by the anti-join
        //     exactly as it never formed in the nd_ok-basis join;
        //   - a pair whose ib is nd-dropped may add ib to the drop set,
        //     but sem_ok := nd_ok && sem_hit IS NULL is already false for
        //     such ib, so no flag any later stage reads can change.
        val K = math.max(8L, Tables.rowCount(s, d, "embeddings") / 1024L).toInt
        val assigned = Similarity.semdedupAssign(
          Similarity.vecs(s, d).select(col("vec_id"), col("vec"), col("nrm")), K)
          .persist() // census + pair-join side, both inside the mining job
        val minable = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("occ"))
          .filter(col("occ") <= ClusterCap).select(col("cluster"))
        val sv = assigned.join(broadcast(minable), Seq("cluster"))
          .join(flagged.filter(col("uniq")).select(col("doc_id").as("vec_id")), Seq("vec_id"))
          .select(col("cluster"), col("vec_id"), col("vec"), col("nrm"))
          .persist() // both sides of the within-cluster pair join
        val semPairs = sv.select(col("cluster"), col("vec_id").as("ia"),
            col("vec").as("va"), col("nrm").as("na"))
          .join(sv.select(col("cluster"), col("vec_id").as("ib"),
            col("vec").as("vb"), col("nrm").as("nb")), Seq("cluster"))
          .filter(col("ia") < col("ib"))
          .filter(Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")) >= Tau)
          .select(col("ia"), col("ib"))
          .persist() // the pair join must run once; semDrop re-reads it
        val semDrop = semPairs
          .join(ndDrop.select(col("doc_id").as("ia")), Seq("ia"), "left_anti")
          .select(col("ib").as("doc_id")).distinct()
          .withColumn("sem_hit", lit(1))
          .persist() // id-only; read by the dc checkpoint
        val sem = nd.join(semDrop, Seq("doc_id"), "left")
          .withColumn("sem_ok", col("nd_ok") && col("sem_hit").isNull)

        // ---- decontamination: dc01's distinct benchmark-shingle join —
        // the bench split's shingles come from the SAME cached corpus pass.
        // The probe runs over the `uniq` survivors (not sem_ok), removing
        // its dependency on BOTH dedup barriers so it can run concurrently
        // with them (guide §2.6). Output-identical: contamination
        // membership is computed PER DOC (each doc's own shingles vs the
        // bench set — no cross-doc term), so widening the probed set can
        // only add rows for docs with sem_ok = false, and the flag every
        // later stage reads is dc_ok := sem_ok && dc_hit IS NULL — already
        // false for exactly those docs. ----
        val bench = flagged.filter(col("bk") >= 95)
          .select(explode(col("sh")).as("h")).distinct()
        val contam = flagged.filter(col("uniq"))
          .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("h"))
          .join(bench, Seq("h"))
          .groupBy(col("doc_id"), col("nsh")).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") * 2 >= col("nsh"))
          .select(col("doc_id"))
          .withColumn("dc_hit", lit(1))
          .persist() // id-only; keeps the bench probe single-execution

        // Materialize the drop sets (one bounded action apiece — each is a
        // small id list whose cache the next stage reads), then SEVER the
        // lineage at the fully-flagged corpus with a localCheckpoint. Left
        // lazy, the final ten-row plan embeds the whole LSH + semantic +
        // contamination tree THREE times (gate / mixture / packing
        // aggregates), and driver-side AQE re-planning of that tree
        // dominates the runtime — the dd06 lesson (persist alone does not
        // truncate the logical plan). Measured at sf0.1: 34 s single lazy
        // action → ~7 s staged.
        // The three heavy subtrees — LSH verify, within-cluster pair
        // mining, bench-shingle probe — are now DATA-INDEPENDENT (the
        // basis-widening notes above), so their materializing actions are
        // submitted from a small thread pool instead of sequentially
        // (guide §2.6: actions are only sequential because the driver
        // calls them sequentially); each job's tasks back-fill the cores
        // the others' stage tails leave idle. Job descriptions are
        // thread-local, so `concurrently` labels each thunk's own jobs
        // (guide §1.5).
        // semDrop stays a (cheap, id-only anti-join) barrier after
        // ndDrop + semPairs.
        def staged[T](label: String)(body: => T): T = {
          s.sparkContext.setJobDescription(s"pp04: $label")
          try body finally s.sparkContext.setJobDescription(null)
        }
        concurrently(s, "pp04")(
          "ndDrop (LSH verify)" -> (() => ndDrop.count()),
          "semPairs (pair mining)" -> (() => semPairs.count()),
          "contam (bench probe)" -> (() => contam.count()))
        staged("semDrop (nd filter)")(semDrop.count())
        val dc = staged("dc checkpoint")(sem.join(contam, Seq("doc_id"), "left")
          .withColumn("dc_ok", col("sem_ok") && col("dc_hit").isNull)
          // project to the columns the attrition/mixture/packing stages
          // actually read BEFORE materializing: the per-doc shingle arrays
          // (the widest column, ~tokens×8 bytes/doc) and the gate inputs
          // are dead past this point, so serializing them into the
          // checkpoint blocks was pure write+read+GC cost (guide §2.3)
          .select(col("doc_id"), col("source"), col("tokens"), col("train"),
            col("q_ok"), col("en_ok"), col("uniq"), col("nd_ok"),
            col("sem_ok"), col("dc_ok"))
          .localCheckpoint()) // eager; every later stage reads a LEAF plan
        // the checkpoint holds everything downstream needs — release the
        // stage caches instead of leaving them to LRU eviction
        Seq(flagged, survBase, assigned, sv, semPairs, ndDrop, semDrop, contam)
          .foreach(_.unpersist(false))

        // ---- mixture: sp05's deterministic per-source token budget over
        // the decontaminated survivors (two-level prefix sum — no window
        // ever spans a whole source) ----
        val mixKeyed = dc.filter(col("dc_ok"))
          .select(col("doc_id"), col("source"), col("tokens"),
            md5(concat(col("doc_id").cast("string"), lit(":mix7"))).as("k"))
          .withColumn("mbk", substring(col("k"), 1, 2))
        val wSrc = Window.partitionBy(col("source")).orderBy(col("mbk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mixOff = mixKeyed.groupBy(col("source"), col("mbk"))
          .agg(sum(col("tokens")).as("bsum"))
          .withColumn("boff", sum(col("bsum")).over(wSrc) - col("bsum"))
          .select(col("source"), col("mbk"), col("boff"))
        val wInMix = Window.partitionBy(col("source"), col("mbk")).orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sel = mixKeyed.join(broadcast(mixOff), Seq("source", "mbk"))
          .withColumn("cum", col("boff") + sum(col("tokens")).over(wInMix))
          .filter(col("cum") - col("tokens") < Budget)
          .select(col("doc_id"), col("tokens"))
          .persist() // read twice: mixture stage row + packing

        // ---- packing: sp12's greedy example assignment in doc_id order
        // (two-level prefix sum keyed by raw-doc_id blocks) ----
        val toks = sel.withColumn("blk", (col("doc_id") / blockSize).cast("bigint"))
        val wBlk = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pkOff = toks.groupBy(col("blk"))
          .agg(sum(col("tokens")).as("blk_sum"))
          .withColumn("blk_off", sum(col("blk_sum")).over(wBlk) - col("blk_sum"))
          .select(col("blk"), col("blk_off"))
        val wInPk = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pkAgg = toks.join(broadcast(pkOff), Seq("blk"))
          .withColumn("start",
            col("blk_off") + sum(col("tokens")).over(wInPk) - col("tokens"))
          .withColumn("example_id", (col("start") / ExampleTokens).cast("bigint"))
          .agg(count_distinct(col("example_id")).as("c9"),
            coalesce(sum(col("tokens")), lit(0L)).as("t9"))

        // ---- the attrition table: ONE conditional aggregation over the
        // flagged corpus (pp02's pattern — no per-stage re-scan), the two
        // small stage relations cross-joined in (one row each), the ten
        // stage rows exploded out of the single combined row ----
        def tokIf(c: org.apache.spark.sql.Column) =
          coalesce(sum(when(c, col("tokens")).otherwise(0L)), lit(0L))
        val gateAgg = dc.agg(
          count(lit(1)).as("c0"), coalesce(sum(col("tokens")), lit(0L)).as("t0"),
          count_if(col("train")).as("c1"), tokIf(col("train")).as("t1"),
          count_if(col("q_ok")).as("c2"), tokIf(col("q_ok")).as("t2"),
          count_if(col("en_ok")).as("c3"), tokIf(col("en_ok")).as("t3"),
          count_if(col("uniq")).as("c4"), tokIf(col("uniq")).as("t4"),
          count_if(col("nd_ok")).as("c5"), tokIf(col("nd_ok")).as("t5"),
          count_if(col("sem_ok")).as("c6"), tokIf(col("sem_ok")).as("t6"),
          count_if(col("dc_ok")).as("c7"), tokIf(col("dc_ok")).as("t7"))
        val mixAgg = sel.agg(count(lit(1)).as("c8"),
          coalesce(sum(col("tokens")), lit(0L)).as("t8"))
        val stages = Seq("raw", "train_split", "quality", "langid", "exact_dedup",
          "near_dedup", "semantic_dedup", "decontaminated", "mixture", "packed")
        gateAgg.crossJoin(mixAgg).crossJoin(pkAgg) // 1 row × 1 row × 1 row
          .select(explode(array(stages.zipWithIndex.map { case (nm, i) =>
            struct(lit(i.toLong).as("stage_ord"), lit(nm).as("stage"),
              col(s"c$i").cast("bigint").as("n_units"),
              col(s"t$i").cast("bigint").as("n_tokens"))
          }: _*)).as("r"))
          .select(col("r.stage_ord").as("stage_ord"), col("r.stage").as("stage"),
            col("r.n_units").as("n_units"), col("r.n_tokens").as("n_tokens"))
          .orderBy(col("stage_ord"))
      },
      // The oracle replays every stage with the SAME SQL fragments the
      // standalone oracles use: tx01/tx02's shared builders, pp02's window,
      // dd04's all-pairs Jaccard (sound: the engine verifies candidates
      // exactly, and DedupRecallSpec pins zero LSH false negatives on the
      // fixtures — over a survivor SUBSET banding can only keep more
      // candidates), dd11's assignment CTE, dc01's bench join, sp05's
      // one-level window (telescopes to the engine's two-level sum), and
      // sp12's prefix sum.
      Some(s"""WITH raw AS (SELECT doc_id, source, text,
              len(string_split_regex(trim(text), '\\s+')) AS tokens,
              ${TextOps.qualitySql} AS quality, ${TextOps.predLangSql} AS pred_lang,
              md5(lower(trim(text))) AS fp,
              ${Sampling.hashBucketSql("doc_id")} AS bk
            FROM documents),
          f AS (SELECT *, bk < 95 AS train,
                  (bk < 95 AND quality >= 0.5) AS q_ok,
                  (bk < 95 AND quality >= 0.5 AND pred_lang = 'en') AS en_ok
                FROM raw),
          e AS (SELECT *, en_ok AND row_number() OVER (PARTITION BY fp
                  ORDER BY en_ok DESC, doc_id) = 1 AS uniq FROM f),
          shs AS (SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in generate_series(1, len(w)-2)]) AS sh
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
          k AS (SELECT e.doc_id, s.sh, len(s.sh) AS n
                FROM e JOIN shs s ON s.doc_id = e.doc_id WHERE e.uniq),
          nddrop AS (SELECT DISTINCT b.doc_id FROM k a JOIN k b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                           / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= 0.3),
          nd AS (SELECT e.*, e.uniq AND dd.doc_id IS NULL AS nd_ok
                 FROM e LEFT JOIN nddrop dd ON dd.doc_id = e.doc_id),
          v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                FROM embeddings),
          seed AS (SELECT vec_id AS cid, vec AS cen FROM (
                     SELECT vec_id, vec, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
                   WHERE rn <= greatest(8, (SELECT count(*) FROM v) // 1024)),
          asg AS (SELECT v.vec_id, seed.cid,
                    list_sum(list_transform(range(1, 65), i ->
                      (vec[i] - cen[i]) * (vec[i] - cen[i]))) AS d2
                  FROM v CROSS JOIN seed),
          best AS (SELECT vec_id, cid AS cluster
                   FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2, cid) AS rn FROM asg) WHERE rn = 1),
          minable AS (SELECT cluster FROM best GROUP BY cluster
                      HAVING count(*) <= $ClusterCap),
          sv AS (SELECT b.cluster, v.vec_id, v.vec
                 FROM best b JOIN minable USING (cluster) JOIN v USING (vec_id)
                   JOIN nd ON nd.doc_id = v.vec_id AND nd.nd_ok),
          semdrop AS (SELECT DISTINCT y.vec_id AS doc_id
                      FROM sv x JOIN sv y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                      WHERE list_cosine_similarity(x.vec, y.vec) >= $Tau),
          sem AS (SELECT nd.*, nd.nd_ok AND sd.doc_id IS NULL AS sem_ok
                  FROM nd LEFT JOIN semdrop sd ON sd.doc_id = nd.doc_id),
          bench AS (SELECT DISTINCT g FROM (
                      SELECT unnest(s.sh) AS g FROM shs s JOIN raw r ON r.doc_id = s.doc_id
                      WHERE r.bk >= 95)),
          contam AS (SELECT tt.doc_id FROM (
                       SELECT sem.doc_id, len(s.sh) AS nsh, unnest(s.sh) AS g
                       FROM sem JOIN shs s ON s.doc_id = sem.doc_id
                       WHERE sem.sem_ok) tt
                     JOIN bench ON bench.g = tt.g
                     GROUP BY tt.doc_id, tt.nsh HAVING count(*) * 2 >= tt.nsh),
          dc AS (SELECT sem.*, sem.sem_ok AND cc.doc_id IS NULL AS dc_ok
                 FROM sem LEFT JOIN contam cc ON cc.doc_id = sem.doc_id),
          mix AS (SELECT doc_id, source, tokens,
                    md5(CAST(doc_id AS VARCHAR) || ':mix7') AS mk
                  FROM dc WHERE dc_ok),
          mc AS (SELECT *, sum(tokens) OVER (PARTITION BY source ORDER BY mk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM mix),
          sel AS (SELECT doc_id, tokens FROM mc WHERE cum - tokens < $Budget),
          pc AS (SELECT doc_id, tokens,
                   CAST(sum(tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens
                     AS BIGINT) AS start
                 FROM sel),
          pk AS (SELECT CAST(count(DISTINCT start // $ExampleTokens) AS BIGINT) AS c9,
                   CAST(coalesce(sum(tokens), 0) AS BIGINT) AS t9 FROM pc),
          g AS (SELECT
              count(*) AS c0, CAST(coalesce(sum(tokens), 0) AS BIGINT) AS t0,
              count(*) FILTER (train) AS c1,
              CAST(coalesce(sum(tokens) FILTER (train), 0) AS BIGINT) AS t1,
              count(*) FILTER (q_ok) AS c2,
              CAST(coalesce(sum(tokens) FILTER (q_ok), 0) AS BIGINT) AS t2,
              count(*) FILTER (en_ok) AS c3,
              CAST(coalesce(sum(tokens) FILTER (en_ok), 0) AS BIGINT) AS t3,
              count(*) FILTER (uniq) AS c4,
              CAST(coalesce(sum(tokens) FILTER (uniq), 0) AS BIGINT) AS t4,
              count(*) FILTER (nd_ok) AS c5,
              CAST(coalesce(sum(tokens) FILTER (nd_ok), 0) AS BIGINT) AS t5,
              count(*) FILTER (sem_ok) AS c6,
              CAST(coalesce(sum(tokens) FILTER (sem_ok), 0) AS BIGINT) AS t6,
              count(*) FILTER (dc_ok) AS c7,
              CAST(coalesce(sum(tokens) FILTER (dc_ok), 0) AS BIGINT) AS t7
            FROM dc),
          m AS (SELECT CAST(count(*) AS BIGINT) AS c8,
                  CAST(coalesce(sum(tokens), 0) AS BIGINT) AS t8 FROM sel)
        SELECT stage_ord, stage, n_units, n_tokens FROM (
          SELECT CAST(0 AS BIGINT) AS stage_ord, 'raw' AS stage,
                 c0 AS n_units, t0 AS n_tokens FROM g
          UNION ALL SELECT 1, 'train_split', c1, t1 FROM g
          UNION ALL SELECT 2, 'quality', c2, t2 FROM g
          UNION ALL SELECT 3, 'langid', c3, t3 FROM g
          UNION ALL SELECT 4, 'exact_dedup', c4, t4 FROM g
          UNION ALL SELECT 5, 'near_dedup', c5, t5 FROM g
          UNION ALL SELECT 6, 'semantic_dedup', c6, t6 FROM g
          UNION ALL SELECT 7, 'decontaminated', c7, t7 FROM g
          UNION ALL SELECT 8, 'mixture', c8, t8 FROM m
          UNION ALL SELECT 9, 'packed', c9, t9 FROM pk)
        ORDER BY stage_ord"""))
  )
}
