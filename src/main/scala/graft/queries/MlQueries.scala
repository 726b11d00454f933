package graft.queries

import graft.Tables
import graft.ops.{Exact, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML suite — SURVEY §2d (M1–M4) on `embeddings`/`documents`.
  *
  * Every query here is DETERMINISTIC RELATIONAL ALGEBRA with a full
  * DuckDB oracle — the hash-exact core of each ML capability:
  *
  *  - k-means: Lloyd iterations unrolled in exact integer micro-unit
  *    arithmetic (m01 one step, m02 three steps, m07 k-fold CV);
  *  - linear classifier: closed-form least squares from exact decimal
  *    sums — the reference's own regression-in-SQL stance
  *    (`queries/q15/gpu_bdb_query_15_dask_sql.py:41-64`) applied as a
  *    thresholded classifier (m03);
  *  - naive-bayes-style text classifier: additive per-class
  *    likelihood in integer parts-per-million with +1 smoothing —
  *    same counts/priors/smoothing relational skeleton as
  *    `bdb_tools/q28_utils.py:36-82`, with ppm-integer likelihood in
  *    place of log-space floats so the argmax is engine-exact (m04);
  *  - multiclass metrics: accuracy / per-class precision / recall /
  *    F1 as one aggregation pipeline — the reference hand-rolls these
  *    as tree reductions (`q28_utils.py:106-257`) (m05);
  *  - hashing vectorizer: term-frequency buckets from the portable
  *    60-bit hash (`portable_hash60(word) % 2^18`), mirroring
  *    HashingTF's shape (`q28_utils.py:36-71`) (m06).
  *
  * The optimizer-dependent MLlib fits (KMeans.fit, LogisticRegression,
  * NaiveBayes, HashingTF) remain first-class library paths in
  * [[graft.ops.MlPipelines]], verified via metric thresholds in
  * MlThresholdSpec — the reference's own stance for iterated ML
  * (`bdb_tools/utils.py:517-581`).
  *
  * Scale: centroids / class tables / priors are broadcast; the only
  * large shuffles are word-level joins keyed on (word) or
  * (word, class), both bounded by vocabulary size — linear in corpus
  * size, no all-pairs anywhere.
  */
object MlQueries extends Suite {

  private def embs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  private def dist2Sql(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, len($a.embedding)+1),
       |  i -> (CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE))
       |     * (CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE)))), 6)""".stripMargin

  private def dist2(a: Column, b: Column) =
    round(aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double"); diff * diff
      }),
      lit(0.0), (acc, x) => acc + x), 6)

  // ---------------------------------------------------------------
  // m02: unrolled Lloyd iterations in exact integer micro-units.
  // Embeddings quantized once to 6-decimal micro-units (bigint); per
  // iteration: assign by integer squared distance (argmin with cid
  // tiebreak), recenter by exact floor-division mean. Every value is
  // an exact integer → order-independent, engine-exact.
  // ---------------------------------------------------------------

  private val KmIters = 3

  private def kmeansIter(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.GraftFunctions.argmin_l2_micro
    // quantized per-vector array — narrow, recomputed per pass,
    // cheaper than materializing. Both assignment AND recentering now
    // work on the dense arrays (the exploded (vec, dim, v) table and
    // its 1.28M-row checkpoint are gone).
    val qv = embs(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("qv"))

    // Assignment is ONE narrow kernel pass per iteration
    // (argmin_l2_micro against the k*dim centroid matrix), with the
    // centroids COLLECTED to the driver between iterations — the
    // exact loop MLlib's KMeans runs (collect + broadcast values).
    // The previous keyed-join form shuffled an n*k exploded distance
    // stream per iteration (m02 7.6 s at sf1; this form ~2 s). k is
    // 8 by construction, so the collect is k*dim rows per iteration.
    def collectCents(df: DataFrame): (Array[Long], Array[Long]) = {
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val ids = rows.map(_._1).distinct.sorted
      val dims = rows.map(_._2).max
      val flat = new Array[Long](ids.length * dims)
      val idPos = ids.zipWithIndex.toMap
      rows.foreach { case (cid, dim, cv) =>
        flat(idPos(cid) * dims + (dim - 1)) = cv
      }
      (flat, ids)
    }
    def assign(cents: (Array[Long], Array[Long])): DataFrame =
      qv.select(col("vec_id"),
        argmin_l2_micro(col("qv"), typedlit(cents._1.toSeq),
          typedlit(cents._2.toSeq)).as("cid"),
        col("qv"))
    // exact floor-division mean (pmod keeps Spark's truncating `div`
    // aligned with DuckDB's flooring `//` on negative sums).
    // Recentering is ONE cid-keyed aggregation over the dense
    // arrays: LongVecSumAgg's partial is a dim-length sums array, so
    // k*dim longs cross the exchange instead of the old eq-join +
    // (cid, dim) aggregate over the n*dim exploded stream. Same
    // integers sum per (cid, dim) in any order -> identical values.
    val vsum = udaf(new graft.ops.LongVecSumAgg)
    def recenter(asgQv: DataFrame): DataFrame = asgQv
      .groupBy("cid")
      .agg(vsum(col("qv")).as("sv"), count(lit(1)).as("n"))
      .select(col("cid"), col("n"), posexplode(col("sv")))
      .toDF("cid", "n", "pos", "s")
      .select(col("cid"), (col("pos") + 1).cast("int").as("dim"),
        expr("(s - pmod(s, n)) div n").as("cv"))

    val c0 = collectCents(qv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), posexplode(col("qv")))
      .toDF("cid", "pos", "cv")
      .select(col("cid"), (col("pos") + 1).cast("int").as("dim"),
        col("cv")))
    var cents = c0
    var lastAsg: DataFrame = null
    var lastCn: Array[(Long, Int, Long)] = null
    (1 to KmIters).foreach { _ =>
      lastAsg = assign(cents)
      val cn = recenter(lastAsg)
      lastCn = cn.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      cents = {
        val ids = lastCn.map(_._1).distinct.sorted
        val dims = lastCn.map(_._2).max
        val flat = new Array[Long](ids.length * dims)
        val idPos = ids.zipWithIndex.toMap
        lastCn.foreach { case (cid, dim, cv) =>
          flat(idPos(cid) * dims + (dim - 1)) = cv
        }
        (flat, ids)
      }
    }
    val n = lastAsg.groupBy("cid").agg(count(lit(1)).as("n"))
    import s.implicits._
    val piv = lastCn.filter(_._2 <= 4)
      .groupBy(_._1).toSeq
      .map { case (cid, rows) =>
        val byDim = rows.map(r => r._2 -> r._3).toMap
        (cid, byDim(1), byDim(2), byDim(3), byDim(4))
      }
      .toDF("cid", "c1", "c2", "c3", "c4")
    n.join(broadcast(piv), "cid") // k <= 8 rows: broadcast at any scale
      .select("cid", "n", "c1", "c2", "c3", "c4").orderBy("cid")
  }

  private val kmeansIterSql: String = {
    val iters = (1 to KmIters).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS (
         |  SELECT e.vec_id, c.cid, SUM((e.v - c.cv) * (e.v - c.cv)) AS d2
         |  FROM eq e JOIN $prev c USING (dim) GROUP BY e.vec_id, c.cid),
         |a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s$i)
         |  WHERE rn = 1),
         |c$i AS (
         |  SELECT cid, dim, (sv - (((sv % n) + n) % n)) // n AS cv FROM (
         |    SELECT a.cid, e.dim, CAST(SUM(e.v) AS BIGINT) AS sv,
         |      COUNT(*) AS n
         |    FROM a$i a JOIN eq e USING (vec_id) GROUP BY a.cid, e.dim))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH eq AS (
       |  SELECT vec_id, dim,
       |    CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |          unnest(embedding) AS x FROM embeddings)),
       |c0 AS (SELECT vec_id AS cid, dim, v AS cv FROM eq WHERE vec_id < 8),
       |$iters
       |SELECT n.cid, n.n,
       |  MAX(CASE WHEN c.dim = 1 THEN c.cv END) AS c1,
       |  MAX(CASE WHEN c.dim = 2 THEN c.cv END) AS c2,
       |  MAX(CASE WHEN c.dim = 3 THEN c.cv END) AS c3,
       |  MAX(CASE WHEN c.dim = 4 THEN c.cv END) AS c4
       |FROM (SELECT cid, COUNT(*) AS n FROM a$KmIters GROUP BY cid) n
       |JOIN c$KmIters c USING (cid)
       |GROUP BY n.cid, n.n
       |ORDER BY n.cid""".stripMargin
  }

  // ---------------------------------------------------------------
  // m04: naive-bayes-style classifier, integer-ppm likelihoods.
  // Shared between m04 (confusion matrix) and m05 (metrics).
  // ---------------------------------------------------------------

  private[queries] def nbConfusion(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val isTest = pmod(col("doc_id"), lit(10)) === 0
    val trd = base.filter(!isTest).select("doc_id", "lang")
    // ntok rides the ted projection (same tokens() the word explode
    // uses, so the count is the exploded row count by construction):
    // the per-(doc, class) score completion below needs it and this
    // is the scan the docs already come from — no extra pass
    val ted = base.filter(isTest).select(col("doc_id"), col("lang"),
      coalesce(size(Text.tokens(col("text"))), lit(0)).cast("long")
        .as("ntok"))
    // carry lang through the explode: the per-word class label comes
    // straight off the document row, not from a token-stream join
    // back to trd/ted (two exchanges saved)
    val trw = base.filter(!isTest)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val tew = Text.words(base.filter(isTest), "doc_id", "text")

    // one lang-keyed aggregate serves BOTH the class list and the
    // priors: the previous separate select(lang).distinct() paid its
    // own exchange over the train docs for a set the priors' groupBy
    // already produces (guide §2.4 — two operations keyed the same
    // way share one exchange)
    val pcnt = trd.groupBy("lang").agg(count(lit(1)).as("pc"))
    val cls = pcnt.select("lang")
    val priors = pcnt
      .crossJoin(broadcast(trd.agg(count(lit(1)).as("dd"))))
      .select(col("lang"), expr("(pc * 1000000) div dd").as("prior_ppm"))
    val cw = trw.groupBy("lang", "word").agg(count(lit(1)).as("c"))
    val nc = cw.groupBy("lang").agg(sum("c").as("n_c"))
    // |vocab| off the (lang x word)-bounded count table, not a
    // distinct over the full token stream
    val vocab = cw.agg(countDistinct("word").as("v"))
    val den = cls.join(nc, Seq("lang"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("lang"),
        (coalesce(col("n_c"), lit(0L)) + col("v")).as("den"))
    val pw = cw.join(broadcast(den), "lang")
      .select(col("lang"), col("word"),
        expr("((c + 1) * 1000000) div den").as("p_ppm"))
    val defp = den.select(col("lang"),
      expr("1000000 div den").as("def_ppm"))

    // The test token stream is joined to pw INNER on word alone — it
    // is never crossJoin-multiplied by the class list (the old form
    // shipped every test token C times just so unmatched (token,
    // class) rows could pick up def_ppm). Per (doc, class) the
    // matched sum and matched count are aggregated, and the unmatched
    // remainder is completed arithmetically from the per-doc token
    // count: wsum = msum + (ntok - mcnt) * def_ppm — the same exact
    // integer total, since every unmatched token contributes exactly
    // def_ppm. Classes with NO matched token in a doc get no matched
    // row; the left join + coalesce completion below yields
    // ntok * def_ppm for them, identical to the old per-token path.
    // No broadcast hint on pw (unchanged rationale): the smoothed-
    // probability table is (classes x vocab)-sized — AQE broadcasts
    // it while it fits and falls back to a word-keyed shuffle join
    // when a 100 TB crawl's long-tail vocab doesn't (a forced hint
    // would OOM instead of falling back). cls/defp/priors stay
    // hinted: they are class-count-bounded, size-invariant.
    val matched = tew.join(pw, "word")
      .groupBy("doc_id", "lang")
      .agg(sum("p_ppm").as("msum"), count(lit(1)).as("mcnt"))
    val scores = ted.withColumnRenamed("lang", "true_lang")
      .crossJoin(broadcast(cls))
      .join(broadcast(priors), "lang")
      .join(broadcast(defp), "lang")
      .join(matched, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (coalesce(col("msum"), lit(0L)) +
          (col("ntok") - coalesce(col("mcnt"), lit(0L))) * col("def_ppm") +
          col("prior_ppm")).as("score"))
    // argmax with lexical tiebreak as ONE aggregate — minimize
    // (-score, lang) — instead of a per-doc sort + row_number filter
    scores
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min_by(col("lang"),
        struct((-col("score")).as("ns"), col("lang"))).as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** m04's oracle body WITHOUT the final ORDER BY (reused by m05). */
  private[queries] val nbConfusionSqlBody: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS word
      |  FROM documents),
      |trd AS (SELECT doc_id, lang FROM documents WHERE (doc_id % 10) <> 0),
      |ted AS (SELECT doc_id, lang FROM documents WHERE (doc_id % 10) = 0),
      |trw AS (SELECT * FROM w WHERE (doc_id % 10) <> 0),
      |tew AS (SELECT * FROM w WHERE (doc_id % 10) = 0),
      |cls AS (SELECT DISTINCT lang FROM trd),
      |priors AS (
      |  SELECT lang, (COUNT(*) * 1000000) // (SELECT COUNT(*) FROM trd)
      |    AS prior_ppm
      |  FROM trd GROUP BY lang),
      |cw AS (
      |  SELECT l.lang, t.word, COUNT(*) AS c
      |  FROM trw t JOIN trd l USING (doc_id) GROUP BY l.lang, t.word),
      |nc AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_c FROM cw GROUP BY lang),
      |vocab AS (SELECT COUNT(DISTINCT word) AS v FROM trw),
      |den AS (
      |  SELECT c.lang, COALESCE(n.n_c, 0) + (SELECT v FROM vocab) AS den
      |  FROM cls c LEFT JOIN nc n USING (lang)),
      |pw AS (
      |  SELECT cw.lang, cw.word, ((cw.c + 1) * 1000000) // d.den AS p_ppm
      |  FROM cw JOIN den d USING (lang)),
      |defp AS (SELECT lang, 1000000 // den AS def_ppm FROM den),
      |occ AS (
      |  SELECT tew.doc_id, c.lang, COALESCE(p.p_ppm, f.def_ppm) AS ppm
      |  FROM tew CROSS JOIN cls c
      |  JOIN defp f ON f.lang = c.lang
      |  LEFT JOIN pw p ON p.lang = c.lang AND p.word = tew.word),
      |wsum AS (
      |  SELECT doc_id, lang, CAST(SUM(ppm) AS BIGINT) AS wsum
      |  FROM occ GROUP BY doc_id, lang),
      |scores AS (
      |  SELECT t.doc_id, t.lang AS true_lang, c.lang,
      |    COALESCE(s.wsum, 0) + pr.prior_ppm AS score
      |  FROM ted t CROSS JOIN cls c
      |  JOIN priors pr ON pr.lang = c.lang
      |  LEFT JOIN wsum s ON s.doc_id = t.doc_id AND s.lang = c.lang),
      |pred AS (
      |  SELECT doc_id, true_lang, lang AS pred_lang FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      |    FROM scores)
      |  WHERE rn = 1)
      |SELECT true_lang, pred_lang, COUNT(*) AS n
      |FROM pred GROUP BY true_lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------

  val qs: Seq[Q] = Seq(

    // M1a: one Lloyd iteration of k-means (k=8, seeds = vec_id 0..7)
    // as pure relational algebra — assignment by squared euclidean
    // distance, then per-cluster mean of the first 4 dims.
    Q("m01_kmeans_lloyd", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // argmin via struct-min with map-side partials (the d23
      // discipline): only n rows reach the exchange, not the n*k
      // scored stream a row_number window would sort and shuffle.
      // Same (d2 asc, cid asc) winner as the oracle's ROW_NUMBER.
      e.crossJoin(broadcast(cents))
        .withColumn("d2", dist2(col("embedding"), col("cvec")))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("_m"),
          first(col("embedding")).as("embedding"))
        .select(col("_m.cid").as("cid"), col("embedding"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("c1"),
          round(avg(element_at(col("embedding"), 2).cast("double")), 6).as("c2"),
          round(avg(element_at(col("embedding"), 3).cast("double")), 6).as("c3"),
          round(avg(element_at(col("embedding"), 4).cast("double")), 6).as("c4"))
        .orderBy("cid")
    },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
              |cents AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
              |scored AS (
              |  SELECT e.vec_id, c.cid, ${dist2Sql("e", "c")} AS d2
              |  FROM e, cents c),
              |asg AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY d2, cid) AS arn FROM scored)
              |  WHERE arn = 1)
              |SELECT cid, COUNT(*) AS n,
              |  round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c1,
              |  round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS c2,
              |  round(avg(CAST(embedding[3] AS DOUBLE)), 6) AS c3,
              |  round(avg(CAST(embedding[4] AS DOUBLE)), 6) AS c4
              |FROM asg JOIN e ON e.vec_id = asg.vec_id
              |GROUP BY cid ORDER BY cid""".stripMargin)),

    // M1b: THREE unrolled Lloyd iterations in exact micro-unit integer
    // arithmetic — the iterated-k-means core as verifiable relational
    // algebra (cluster sizes + final centroids of dims 1..4 in
    // micro-units). The optimized MLlib fit (k=8, maxIter=20) stays in
    // MlPipelines.kmeansMllib + its WSSSE threshold test, mirroring
    // the reference's threshold stance (utils.py:957-1018).
    Q("m02_kmeans_iter3", kmeansIter, Some(kmeansIterSql)),

    // M2: closed-form linear classifier — least-squares slope and
    // intercept from exact decimal sums (the reference's q15/q18
    // regression-in-SQL pattern) fit on the 90% train split, then a
    // 0.5-threshold prediction on the held-out 10%, reported as a
    // confusion matrix + accuracy in ppm. The iterated logistic fit
    // stays in MlPipelines.logregMllib + AUC threshold test
    // (q05_utils.py:75-120).
    Q("m03_linear_clf", (s, d) => {
      val pts = embs(s, d).select(col("vec_id"),
        expr("CAST(round(CAST(embedding[0] AS DOUBLE) * 1000000, 0) AS BIGINT)")
          .as("x_us"),
        when(col("label") >= 5, 1.0).otherwise(0.0).as("y"))
      val train = pts.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val test = pts.filter(pmod(col("vec_id"), lit(10)) === 0)
      val st = train.agg(
        Exact.dslope(col("x_us"), col("y")).as("slope"),
        Exact.dintercept(col("x_us"), col("y")).as("intercept"))
      test.crossJoin(broadcast(st))
        .withColumn("yhat",
          when(col("intercept") + col("slope") * col("x_us").cast("double")
            > 0.5, 1.0).otherwise(0.0))
        .agg(
          count(lit(1)).as("n_test"),
          sum(when(col("yhat") === 1.0 && col("y") === 1.0, 1).otherwise(0)).as("tp"),
          sum(when(col("yhat") === 1.0 && col("y") === 0.0, 1).otherwise(0)).as("fp"),
          sum(when(col("yhat") === 0.0 && col("y") === 1.0, 1).otherwise(0)).as("fn"),
          sum(when(col("yhat") === 0.0 && col("y") === 0.0, 1).otherwise(0)).as("tn"),
          max(col("slope")).as("slope"),
          max(col("intercept")).as("intercept"))
        .withColumn("acc_ppm", expr("((tp + tn) * 1000000) div n_test"))
        .select("n_test", "tp", "fp", "fn", "tn", "acc_ppm",
          "slope", "intercept")
    }, {
      // exact-sum fragments shared by slope and intercept (o24 idiom)
      val sx = "CAST(SUM(CAST(x_us AS DECIMAL(18,0))) AS DOUBLE)"
      val sy = "CAST(SUM(CAST(y AS DECIMAL(14,2))) AS DOUBLE)"
      val sxx = "CAST(SUM(CAST(x_us AS DECIMAL(18,0)) * CAST(x_us AS DECIMAL(18,0))) AS DOUBLE)"
      val sxy = "CAST(SUM(CAST(x_us AS DECIMAL(18,0)) * CAST(y AS DECIMAL(14,2))) AS DOUBLE)"
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val slopeRaw = s"(($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx))"
      Some(s"""WITH pts AS (
              |  SELECT vec_id,
              |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x_us,
              |    CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
              |  FROM embeddings),
              |tr AS (SELECT * FROM pts WHERE (vec_id % 10) <> 0),
              |te AS (SELECT * FROM pts WHERE (vec_id % 10) = 0),
              |st AS (
              |  -- "+ 0" normalizes -0.0 -> 0.0 (matches Exact.r6)
              |  SELECT round($slopeRaw, 6) + 0 AS slope,
              |    round(($sy - $slopeRaw * $sx) / $n, 6) + 0 AS intercept
              |  FROM tr),
              |scored AS (
              |  SELECT te.y,
              |    CASE WHEN st.intercept + st.slope * CAST(te.x_us AS DOUBLE) > 0.5
              |      THEN 1.0 ELSE 0.0 END AS yhat
              |  FROM te, st)
              |SELECT COUNT(*) AS n_test,
              |  CAST(SUM(CASE WHEN yhat = 1.0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |  CAST(SUM(CASE WHEN yhat = 1.0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |  CAST(SUM(CASE WHEN yhat = 0.0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |  CAST(SUM(CASE WHEN yhat = 0.0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              |  (CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
              |    // COUNT(*) AS acc_ppm,
              |  (SELECT slope FROM st) AS slope,
              |  (SELECT intercept FROM st) AS intercept
              |FROM scored""".stripMargin)
    }),

    // M3: naive-bayes-style text classifier with integer-ppm
    // likelihoods: per-class word probabilities with +1 smoothing in
    // parts-per-million (integer division), additive per-document
    // scores + class prior, argmax with lexical tiebreak. Same
    // counts/smoothing/priors skeleton as multinomial NB
    // (q28_utils.py:36-82) with the log-space product replaced by an
    // exact integer sum so both engines agree bit-for-bit. The true
    // MLlib NaiveBayes stays in MlPipelines + accuracy threshold test.
    Q("m04_nb_ppm_text", (s, d) =>
      nbConfusion(s, d).orderBy("true_lang", "pred_lang"),
      Some(nbConfusionSqlBody + "\nORDER BY true_lang, pred_lang")),

    // M4: distributed multiclass metrics (per-class precision /
    // recall / F1 in exact ppm integers) over m04's deterministic
    // confusion matrix — the reference hand-rolls these as tree
    // reductions (q28_utils.py:106-257); here they're two groupBys
    // and a full outer join.
    Q("m05_multiclass_metrics", (s, d) => {
      // the confusion matrix feeds BOTH the per-true and per-pred
      // aggregations — materialize the (langs x langs)-row result
      // once (d12's localCheckpoint discipline) instead of running
      // the whole NB train+score pipeline on each branch
      val conf = nbConfusion(s, d).localCheckpoint()
      val tr = conf.groupBy(col("true_lang").as("lang"))
        .agg(sum("n").as("n_true"),
          sum(when(col("true_lang") === col("pred_lang"), col("n"))
            .otherwise(0L)).as("n_correct"))
      val pr = conf.groupBy(col("pred_lang").as("lang"))
        .agg(sum("n").as("n_pred"))
      tr.join(pr, Seq("lang"), "full_outer")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
        .withColumn("precision_ppm",
          expr("CASE WHEN n_pred > 0 THEN (n_correct * 1000000) div n_pred " +
            "ELSE CAST(0 AS BIGINT) END"))
        .withColumn("recall_ppm",
          expr("CASE WHEN n_true > 0 THEN (n_correct * 1000000) div n_true " +
            "ELSE CAST(0 AS BIGINT) END"))
        .withColumn("f1_ppm",
          expr("CASE WHEN precision_ppm + recall_ppm > 0 " +
            "THEN (2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm) " +
            "ELSE CAST(0 AS BIGINT) END"))
        .orderBy("lang")
    },
      Some(s"""WITH conf AS (
              |$nbConfusionSqlBody
              |),
              |tr AS (
              |  SELECT true_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_true,
              |    CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
              |      AS BIGINT) AS n_correct
              |  FROM conf GROUP BY true_lang),
              |pr AS (
              |  SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
              |  FROM conf GROUP BY pred_lang),
              |j AS (
              |  SELECT COALESCE(t.lang, p.lang) AS lang,
              |    COALESCE(t.n_true, 0) AS n_true,
              |    COALESCE(p.n_pred, 0) AS n_pred,
              |    COALESCE(t.n_correct, 0) AS n_correct
              |  FROM tr t FULL OUTER JOIN pr p ON t.lang = p.lang),
              |m AS (
              |  SELECT lang, n_true, n_pred, n_correct,
              |    CASE WHEN n_pred > 0 THEN (n_correct * 1000000) // n_pred
              |      ELSE 0 END AS precision_ppm,
              |    CASE WHEN n_true > 0 THEN (n_correct * 1000000) // n_true
              |      ELSE 0 END AS recall_ppm
              |  FROM j)
              |SELECT lang, n_true, n_pred, n_correct,
              |  precision_ppm, recall_ppm,
              |  CASE WHEN precision_ppm + recall_ppm > 0
              |    THEN (2 * precision_ppm * recall_ppm)
              |      // (precision_ppm + recall_ppm)
              |    ELSE 0 END AS f1_ppm
              |FROM m ORDER BY lang""".stripMargin)),

    // T11: hashing vectorizer with the engine-portable 60-bit hash —
    // bucket = portable_hash60(word) % 2^18; per-doc distinct-bucket
    // count (nnz), token count (L1 term mass) and max bucket frequency.
    // Mirrors HashingTF's shape (q28_utils.py:36-71); the MLlib
    // murmur3-based HashingTF stays in MlPipelines.hashingTfMllib as
    // the parity path (same term mass, engine-specific buckets).
    Q("m06_hashing_tf", (s, d) => {
      val w = Text.words(docs(s, d), "doc_id", "text")
      val tfb = w
        .withColumn("bucket", Text.portableHash(col("word")) % lit(262144L))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
      tfb.groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"), sum("tf").as("n_tok"),
          max("tf").as("max_tf"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS word
             |  FROM documents),
             |tfb AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 262144 AS bucket,
             |    COUNT(*) AS tf
             |  FROM w GROUP BY doc_id, bucket)
             |SELECT doc_id, COUNT(*) AS nnz, CAST(SUM(tf) AS BIGINT) AS n_tok,
             |  MAX(tf) AS max_tf
             |FROM tfb GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // M7: deterministic 3-fold cross-validated clustering evaluation —
    // folds by salted-hash id (Split.fold: partitioning/engine-
    // invariant, unlike randomSplit), seeds = the 8 lowest train ids
    // per fold, held-out vectors assigned to their nearest seed, and
    // per (fold, cluster) the held-out WSS in INTEGER micro-units
    // (each round-6 distance scaled to an exact integer before the
    // sum, so the aggregate is order-independent and the oracle is
    // bit-exact — no float accumulation across rows).
    Q("m07_cv_kmeans", (s, d) => {
      val e = embs(s, d).select("vec_id", "embedding")
      val folded = e.withColumn("fold",
        graft.ops.Split.fold(col("vec_id"), 3))
      (0 until 3).map { f =>
        val train = folded.filter(col("fold") =!= f)
        val test = folded.filter(col("fold") === f)
        val seeds = train.orderBy("vec_id").limit(8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
        test.crossJoin(broadcast(seeds))
          .withColumn("d2", dist2(col("embedding"), col("cvec")))
          .withColumn("arn", row_number().over(w))
          .filter(col("arn") === 1)
          .withColumn("d2_us",
            expr("CAST(round(d2 * 1000000, 0) AS BIGINT)"))
          .groupBy(lit(f).as("fold"), col("cid"))
          .agg(count(lit(1)).as("n"), sum("d2_us").as("wss_us"))
      }.reduce(_ unionByName _).orderBy("fold", "cid")
    }, {
      val foldSql =
        "CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|fold'),1,15) AS BIGINT) % 3 AS INT)"
      val blocks = (0 until 3).map { f =>
        s"""SELECT $f AS fold, cid, COUNT(*) AS n,
           |  CAST(SUM(d2_us) AS BIGINT) AS wss_us
           |FROM (
           |  SELECT vec_id, cid, d2_us, ROW_NUMBER() OVER (
           |    PARTITION BY vec_id ORDER BY d2, cid) AS arn
           |  FROM (
           |    SELECT t.vec_id, s.cid, ${dist2Sql("t", "s")} AS d2,
           |      CAST(round(${dist2Sql("t", "s")} * 1000000, 0) AS BIGINT)
           |        AS d2_us
           |    FROM (SELECT * FROM e WHERE fold = $f) t,
           |         (SELECT vec_id AS cid, embedding
           |          FROM e WHERE fold <> $f
           |          ORDER BY vec_id LIMIT 8) s))
           |WHERE arn = 1 GROUP BY cid""".stripMargin
      }.mkString("\nUNION ALL\n")
      Some(s"""WITH e AS (
              |  SELECT vec_id, embedding, $foldSql AS fold
              |  FROM embeddings)
              |SELECT * FROM (
              |$blocks
              |) ORDER BY fold, cid""".stripMargin)
    }),

    // M4+: distributed AUC (rank statistic) — the binary-ranking
    // metric every classifier eval needs, in the SCALABLE
    // formulation: aggregate to per-score (n_pos, n_neg) counts
    // first (map-side partials over the full corpus), then the
    // Mann-Whitney U runs as a window over the DISTINCT-score table,
    // which is orders of magnitude smaller than the row count — no
    // global sort of the corpus, unlike the per-row rank() form.
    // Doubled-U arithmetic keeps tie handling (average ranks) in
    // exact integers: auc = U/(P*N) with
    // 2U = Σ_s n_pos(s)·(2·cum_neg_below(s) + n_neg(s)).
    // Label: lang='en'; score: n_chars (a deterministic stand-in for
    // any model score column).
    Q("m08_auc", (s, d) => {
      val scored = docs(s, d).select(
        col("n_chars").as("score"),
        (col("lang") === "en").cast("long").as("y"))
      val perScore = scored.groupBy("score")
        .agg(sum("y").as("np"), sum(lit(1L) - col("y")).as("nn"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val u2 = perScore
        .withColumn("cum_nn", coalesce(sum("nn").over(w), lit(0L)))
        .agg(sum(col("np") * (lit(2L) * col("cum_nn") + col("nn")))
            .as("u2"),
          sum("np").as("p"), sum("nn").as("n"))
      u2.select(col("p"), col("n"),
        expr("(u2 * 1000000) div (2 * p * n)").as("auc_ppm"))
    },
      Some("""WITH sc AS (
             |  SELECT n_chars AS score,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |ps AS (
             |  SELECT score, CAST(SUM(y) AS BIGINT) AS np,
             |    CAST(SUM(1 - y) AS BIGINT) AS nn
             |  FROM sc GROUP BY score),
             |cum AS (
             |  SELECT *, COALESCE(SUM(nn) OVER (ORDER BY score
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS cum_nn
             |  FROM ps)
             |SELECT CAST(SUM(np) AS BIGINT) AS p,
             |  CAST(SUM(nn) AS BIGINT) AS n,
             |  CAST((SUM(np * (2 * cum_nn + nn)) * 1000000)
             |    // (2 * SUM(np) * SUM(nn)) AS BIGINT) AS auc_ppm
             |FROM cum""".stripMargin)),

    // M4+: calibration / reliability bins — mean predicted
    // probability vs observed positive rate per score decile, the
    // reliability-diagram aggregation of classifier eval. Score =
    // n_chars normalized to ppm against the corpus max (deterministic
    // stand-in for any model-probability column, like m08); one
    // corpus aggregate + one broadcast-back + one 10-group aggregate
    // — everything map-side-combinable, all integer ppm.
    Q("m09_calibration", (s, d) => {
      val base = docs(s, d).select(
        col("n_chars"), (col("lang") === "en").cast("long").as("y"))
      val mx = base.agg(max("n_chars").as("mxc"))
      base.crossJoin(broadcast(mx))
        .withColumn("score_ppm", expr("(n_chars * 1000000) div mxc"))
        .withColumn("bin",
          least(expr("score_ppm div 100000"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          expr("sum(score_ppm) div count(1)").as("mean_score_ppm"),
          expr("(sum(y) * 1000000) div count(1)").as("pos_ppm"))
        .orderBy("bin")
    },
      Some("""WITH b AS (
             |  SELECT n_chars,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    (n_chars * 1000000)
             |      // (SELECT MAX(n_chars) FROM documents) AS score_ppm
             |  FROM documents)
             |SELECT LEAST(score_ppm // 100000, 9) AS bin,
             |  COUNT(*) AS n,
             |  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
             |  CAST((SUM(y) * 1000000) // COUNT(*) AS BIGINT) AS pos_ppm
             |FROM b GROUP BY 1 ORDER BY bin""".stripMargin)),

    // M10: closed-form MULTIVARIATE ridge regression via the normal
    // equations — the reference's regression-in-SQL stance
    // (`queries/q15/gpu_bdb_query_15_dask_sql.py:41-64` solves simple
    // 1-feature OLS from aggregate sums) generalized to 3 columns of
    // the design matrix [1, quantity, ship-month] with an L2 penalty
    // on the slope diagonals. The 100 TB shape: X'X and X'y collapse
    // to NINE integer sums in ONE aggregate (map-side partials — the
    // only corpus pass), the 3x3 Cramer solve runs driver-side on the
    // collected scalars in exact BigInt (k-bounded: one row), and the
    // oracle replays the identical determinant algebra in HUGEINT.
    // Coefficients emitted in milli-units via truncating division
    // (BigInt / and DuckDB // both truncate toward zero — verified).
    // Magnitude bound: |A| entries <= n*2500 (~1.5e10 at sf1-gen),
    // b entries <= n*50*1e7, so dets < ~5e33 and det_i*1000 < ~5e36
    // stay inside HUGEINT's 1.7e38.
    Q("m10_ridge_normal", (s, d) => {
      import s.implicits._
      val li = Tables.load(s, d, "lineitem").select(
        floor(col("l_quantity")).cast("long").as("x1"),
        month(col("l_shipdate")).cast("long").as("x2"),
        floor(col("l_extendedprice") * 100).cast("long").as("y"))
      val r = li.agg(
        count(lit(1)).as("n"), sum("x1").as("sx1"), sum("x2").as("sx2"),
        sum(col("x1") * col("x1")).as("sx11"),
        sum(col("x1") * col("x2")).as("sx12"),
        sum(col("x2") * col("x2")).as("sx22"),
        sum("y").as("sy"), sum(col("x1") * col("y")).as("sx1y"),
        sum(col("x2") * col("y")).as("sx2y")).collect()(0)
      val lam = BigInt(1000)
      val a00 = BigInt(r.getLong(0)); val a01 = BigInt(r.getLong(1))
      val a02 = BigInt(r.getLong(2))
      val a11 = BigInt(r.getLong(3)) + lam; val a12 = BigInt(r.getLong(4))
      val a22 = BigInt(r.getLong(5)) + lam
      val b0 = BigInt(r.getLong(6)); val b1 = BigInt(r.getLong(7))
      val b2 = BigInt(r.getLong(8))
      val det = a00 * (a11 * a22 - a12 * a12) -
        a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02)
      val det0 = b0 * (a11 * a22 - a12 * a12) -
        a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)
      val det1 = a00 * (b1 * a22 - b2 * a12) -
        b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)
      val det2 = a00 * (a11 * b2 - a12 * b1) -
        a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)
      require(det != 0, "m10: singular ridge system (empty lineitem?)")
      Seq(
        (0L, (det0 * 1000 / det).toLong),
        (1L, (det1 * 1000 / det).toLong),
        (2L, (det2 * 1000 / det).toLong))
        .toDF("coef", "beta_mil").orderBy("coef")
    },
      Some("""WITH f AS (
             |  SELECT CAST(floor(l_quantity) AS BIGINT) AS x1,
             |    CAST(month(l_shipdate) AS BIGINT) AS x2,
             |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT COUNT(*) AS n, SUM(x1) AS sx1, SUM(x2) AS sx2,
             |    SUM(x1*x1) AS sx11, SUM(x1*x2) AS sx12,
             |    SUM(x2*x2) AS sx22, SUM(y) AS sy,
             |    SUM(x1*y) AS sx1y, SUM(x2*y) AS sx2y
             |  FROM f),
             |a AS (
             |  SELECT CAST(n AS HUGEINT) AS a00, CAST(sx1 AS HUGEINT) AS a01,
             |    CAST(sx2 AS HUGEINT) AS a02,
             |    CAST(sx11 + 1000 AS HUGEINT) AS a11,
             |    CAST(sx12 AS HUGEINT) AS a12,
             |    CAST(sx22 + 1000 AS HUGEINT) AS a22,
             |    CAST(sy AS HUGEINT) AS b0, CAST(sx1y AS HUGEINT) AS b1,
             |    CAST(sx2y AS HUGEINT) AS b2
             |  FROM m),
             |dets AS (
             |  SELECT
             |    a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
             |      + a02*(a01*a12 - a11*a02) AS det,
             |    b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2)
             |      + a02*(b1*a12 - a11*b2) AS det0,
             |    a00*(b1*a22 - b2*a12) - b0*(a01*a22 - a12*a02)
             |      + a02*(a01*b2 - b1*a02) AS det1,
             |    a00*(a11*b2 - a12*b1) - a01*(a01*b2 - b1*a02)
             |      + b0*(a01*a12 - a11*a02) AS det2
             |  FROM a)
             |SELECT coef, beta_mil FROM (
             |  SELECT CAST(0 AS BIGINT) AS coef,
             |    CAST((det0 * 1000) // det AS BIGINT) AS beta_mil FROM dets
             |  UNION ALL SELECT CAST(1 AS BIGINT),
             |    CAST((det1 * 1000) // det AS BIGINT) FROM dets
             |  UNION ALL SELECT CAST(2 AS BIGINT),
             |    CAST((det2 * 1000) // det AS BIGINT) FROM dets)
             |ORDER BY coef""".stripMargin)),

    // M11: PCA — dominant principal direction of the lineitem
    // numeric-feature second-moment matrix by POWER ITERATION, m10's
    // closed-form stance applied to dimensionality reduction (the
    // whitening / rotation step production vector pipelines run
    // before quantized ANN indexing, e.g. OPQ's R — Ge et al.
    // CVPR'13). The ONLY corpus pass at any scale is the Gram
    // matrix: 36 plain sum() columns (upper triangle of the 8x8,
    // mirrored driver-side) in ONE whole-stage-codegen aggregate
    // with constant-size map-side partials — no per-row array
    // allocation, no HOF lambda, no UDAF serialization (the
    // outer-product-array + LongVecSumAgg form of the same pass
    // measured 4.6 s vs 0.5 s at sf0.1), no explode, no (i,j)-keyed
    // shuffle of n*64 rows. The iteration itself is
    // k-bounded driver math on the ONE collected row (m10's
    // discipline): exact BigInt mat-vec products from v0 = ones,
    // each round rescaled by the ADAPTIVE truncating division
    // s = max(1, max|w| div 1e6) — keeps ~6 significant digits at
    // any data scale (a fixed divisor truncates small-corpus rounds
    // to single digits and loses the direction; BigInt `/` ==
    // DuckDB `//` toward zero, verified on negatives), 3 rounds.
    // The feature design (price dominates variance) gives the
    // spectrum a ~250x top gap, so 3 rounds land within 1e-6 of the
    // converged eigenvector (MlThresholdSpec asserts |cos| > 0.999
    // against a float reference); the oracle replays the identical
    // integer iteration in HUGEINT and the gate is hash-exact, sign
    // convention included.
    Q("m11_pca_power", (s, d) => {
      import s.implicits._
      val dim = 8
      val feats = Seq(
        "CAST(floor(l_quantity) AS BIGINT)",
        "CAST(floor(l_extendedprice) AS BIGINT) div 100",
        "CAST(floor(l_discount * 100) AS BIGINT)",
        "CAST(floor(l_tax * 100) AS BIGINT)",
        "CAST(month(l_shipdate) AS BIGINT)",
        "CAST(day(l_shipdate) AS BIGINT)",
        "CAST(year(l_shipdate) - 1992 AS BIGINT)",
        "l_partkey % 97")
      val base = Tables.load(s, d, "lineitem").select(
        feats.zipWithIndex.map { case (f, i) => expr(f).as(s"f$i") }: _*)
      val upper = for { i <- 0 until dim; j <- i until dim } yield (i, j)
      val sums = upper.map { case (i, j) =>
        sum(col(s"f$i") * col(s"f$j")).as(s"g${i}_$j")
      }
      val row = base.agg(sums.head, sums.tail: _*).collect()(0)
      val g = Array.ofDim[Long](dim * dim)
      upper.zipWithIndex.foreach { case ((i, j), k) =>
        g(i * dim + j) = row.getLong(k)
        g(j * dim + i) = row.getLong(k)
      }
      var v = Array.fill(dim)(BigInt(1))
      for (_ <- 1 to 3) {
        val w = Array.tabulate(dim) { i =>
          (0 until dim).map(j => BigInt(g(i * dim + j)) * v(j)).sum
        }
        val sc = w.map(_.abs).max / BigInt(1000000) max BigInt(1)
        v = w.map(_ / sc)
      }
      v.zipWithIndex
        .map { case (c, i) => (i.toLong + 1L, c.toLong) }.toSeq
        .toDF("dim", "comp").orderBy("dim")
    },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT list_value(
             |    CAST(floor(l_quantity) AS BIGINT),
             |    CAST(floor(l_extendedprice) AS BIGINT) // 100,
             |    CAST(floor(l_discount * 100) AS BIGINT),
             |    CAST(floor(l_tax * 100) AS BIGINT),
             |    CAST(month(l_shipdate) AS BIGINT),
             |    CAST(day(l_shipdate) AS BIGINT),
             |    CAST(year(l_shipdate) - 1992 AS BIGINT),
             |    l_partkey % 97) AS v
             |  FROM lineitem),
             |g AS MATERIALIZED (
             |  SELECT i, j, SUM(CAST(v[i] AS HUGEINT) * v[j]) AS gv
             |  FROM ev, range(1, 9) r1(i), range(1, 9) r2(j)
             |  GROUP BY i, j),
             |w1 AS MATERIALIZED (SELECT i, SUM(gv) AS w FROM g GROUP BY i),
             |s1 AS MATERIALIZED (
             |  SELECT GREATEST(1, MAX(ABS(w)) // 1000000) AS s FROM w1),
             |v1 AS MATERIALIZED (SELECT i, w // s AS val FROM w1, s1),
             |w2 AS MATERIALIZED (
             |  SELECT g.i, SUM(g.gv * v1.val) AS w
             |  FROM g JOIN v1 ON g.j = v1.i GROUP BY g.i),
             |s2 AS MATERIALIZED (
             |  SELECT GREATEST(1, MAX(ABS(w)) // 1000000) AS s FROM w2),
             |v2 AS MATERIALIZED (SELECT i, w // s AS val FROM w2, s2),
             |w3 AS MATERIALIZED (
             |  SELECT g.i, SUM(g.gv * v2.val) AS w
             |  FROM g JOIN v2 ON g.j = v2.i GROUP BY g.i),
             |s3 AS MATERIALIZED (
             |  SELECT GREATEST(1, MAX(ABS(w)) // 1000000) AS s FROM w3),
             |v3 AS (SELECT i, w // s AS val FROM w3, s3)
             |SELECT CAST(i AS BIGINT) AS dim, CAST(val AS BIGINT) AS comp
             |FROM v3 ORDER BY dim""".stripMargin)),

    // M12: kNN-label evaluation — the standard embedding-quality
    // probe for a curated corpus (predict each held-out vector's
    // label by majority vote of its 5 nearest neighbors by cosine;
    // report the confusion matrix). A training-data pipeline runs
    // this to decide whether an embedding space is good enough to
    // drive semantic dedup (d23/d32) and ANN curation — kNN accuracy
    // IS the recall proxy. Scale shape: the k-bounded probe set
    // broadcasts against ONE corpus scan (d09's discipline), top-k is
    // a bounded window, the vote is two label-bounded aggregates with
    // the m04 min_by argmax (ties to the smaller label). Composes
    // with the IVF/PQ indexes for the scan fraction at 10^9 vectors.
    Q("m12_knn_label", (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("true_label"))
      val train = e.filter(col("vec_id") >= 50)
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
      train.crossJoin(broadcast(q))
        .withColumn("cos",
          graft.ops.Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .groupBy("q_id", "true_label", "label")
        .agg(count(lit(1)).as("v"))
        .groupBy("q_id", "true_label")
        .agg(min_by(col("label"),
          struct((-col("v")).as("nv"), col("label"))).as("pred_label"))
        .groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding,
              |    CAST(label AS BIGINT) AS true_label
              |  FROM embeddings WHERE vec_id < 50),
              |tr AS (
              |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
              |  FROM embeddings WHERE vec_id >= 50),
              |scored AS (
              |  SELECT q.q_id, q.true_label, tr.label, tr.vec_id,
              |    ${DedupQueries.cosSql("q", "tr")} AS cos
              |  FROM q, tr),
              |nn AS (
              |  SELECT * FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, vec_id) AS rnk FROM scored)
              |  WHERE rnk <= 5),
              |votes AS (
              |  SELECT q_id, true_label, label, COUNT(*) AS v
              |  FROM nn GROUP BY 1, 2, 3),
              |pred AS (
              |  SELECT q_id, true_label, label AS pred_label FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY v DESC, label) AS rn FROM votes)
              |  WHERE rn = 1)
              |SELECT true_label, pred_label, COUNT(*) AS n
              |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
