package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Probabilistic record linkage — Fellegi–Sunter match scoring (JASA
  * 1969), the standard entity-resolution decision model: every blocked
  * candidate pair gets a log-likelihood match weight
  * Σ_fields log2(m/u) (field agrees) or log2((1−m)/(1−u)) (disagrees),
  * where m = P(agree | same entity) and u = P(agree | different
  * entities) are per-field parameters, and thresholds split pairs into
  * match / possible / non-match. Complements [[NearDup.q125GoldenRecords]]
  * (survivorship AFTER linkage) — this is the scoring step that decides
  * which pairs link at all.
  *
  * Scale shape: candidate generation is the q110 blocked fuzzy join
  * (hash shuffle on the block key, histogram-gated Jaro–Winkler kernel
  * — never all-pairs); the weight is a pure per-pair projection of
  * literal parameters, fully codegen; classification is a comparison.
  * m/u are supplied by the caller (in production: EM estimates or
  * labeled-data rates) so the whole score is deterministic and
  * engine-portable — DuckDB recomputes it bit-for-bit via its own
  * `jaro_winkler_similarity` (which [[graft.functions.JaroWinkler]] is
  * pinned to).
  */
object Linkage {

  /** One field's contribution: agreement predicate → log2(m/u), else
    * log2((1−m)/(1−u)). Literal parameters keep it a constant-folded
    * codegen expression.
    */
  private def fieldWeight(agree: Column, m: Double, u: Double): Column = {
    require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
      s"need 0 < u < m < 1, got m=$m u=$u")
    when(agree, lit(math.log(m / u) / math.log(2.0)))
      .otherwise(lit(math.log((1 - m) / (1 - u)) / math.log(2.0)))
  }

  /** Score blocked candidate pairs of `records` on (name similarity,
    * plus exact agreement fields), classify by thresholds.
    *
    * @param fields  (fieldCol, m, u) per exact-match field
    * @return one row per candidate pair: ids, jw, per-field agreement
    *         flags folded into the weight, match_weight, link_class
    */
  def felligiSunterScores(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      blockCol: Column,
      nameTheta: Double,
      nameM: Double,
      nameU: Double,
      fields: Seq[(String, Double, Double)],
      upperT: Double,
      lowerT: Double,
      informativeOnly: Boolean = false): DataFrame = {
    val fieldCols = fields.map(_._1)
    val a = records.select(
      (col(idCol).as("a_id") +: col(nameCol).as("a_name") +:
        fieldCols.map(f => col(f).as(s"a_$f"))) :+ blockCol.as("block"): _*)
    val b = records.select(
      (col(idCol).as("b_id") +: col(nameCol).as("b_name") +:
        fieldCols.map(f => col(f).as(s"b_$f"))) :+ blockCol.as("block"): _*)
    // ONE kernel evaluation per pair: the name-agreement test reads the
    // jw column the output carries anyway. (Measured alternative: the
    // admission-bounded gte kernel for the test + jw only for emitted
    // rows — no win here, because same-block part names mostly pass the
    // gate, so the exact kernel runs for ~every pair regardless.)
    val jw = graft.functions.GraftFunctions.jaroWinkler(col("a_name"), col("b_name"))
    val weight = fields.foldLeft(
      fieldWeight(col("jw") >= nameTheta, nameM, nameU)) {
      case (acc, (f, m, u)) =>
        acc + fieldWeight(col(s"a_$f") === col(s"b_$f"), m, u)
    }
    // informativeOnly drops the all-disagree mass BEFORE the jw/weight
    // projection, as a disjunction over RAW columns: a floor filter
    // applied after the projection gets its weight expression (jw
    // included) inlined back into the filter by CollapseProject +
    // predicate pushdown, running the full kernel on every blocked
    // pair AND again per survivor (32.5M kernels for 25M pairs at
    // sf0.1). The cheap field-equality terms short-circuit first, so
    // the name kernel runs only on field-disagree pairs plus once per
    // survivor (~27.5M) — measured 8.1 → 7.7 s. The histogram-gated
    // kernel (jaroWinklerGte) measured WORSE here (9.4 s): same-block
    // names share most letters, so the admission bound almost never
    // rejects and its histograms are pure overhead.
    // probe leg repartitioned on the block key (explicit count = the
    // session's shuffle-partition knob): with a broadcastable `b` the
    // pair scoring otherwise runs at the SCAN's split count — one small
    // parquet file = one task = the whole JW/weight kernel mass on one
    // core (measured cpu ≈ wall on q140/q218 on 32 cores). Same
    // rationale as NearDup.jaroWinklerJoin; no second exchange on the
    // shuffle-join path at scale because the count matches the join's
    // required distribution.
    val nPart = a.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs0 = a.repartition(nPart, col("block")).join(b, Seq("block"))
      .where(col("a_id") < col("b_id"))
    val pairs =
      if (!informativeOnly) pairs0
      else pairs0.where(fieldCols
        .map(f => col(s"a_$f") === col(s"b_$f"))
        .reduce(_ || _) ||
        graft.functions.GraftFunctions.jaroWinkler(
          col("a_name"), col("b_name")) >= nameTheta)
    pairs
      .withColumn("jw", jw)
      .withColumn("match_weight", weight)
      .select(
        (col("a_id") +: col("b_id") +: col("jw") +: col("match_weight") +:
          when(col("match_weight") >= upperT, lit("match"))
            .when(col("match_weight") >= lowerT, lit("possible"))
            .otherwise(lit("non_match")).as("link_class") +: Nil): _*)
  }

  /** Declared q140: FS scoring over part pairs blocked on the first
    * TWO name words — name Jaro–Winkler at 0.92 (m=.9/u=.05), brand
    * and type exact (m=.95/u=.2, m=.9/u=.25).
    *
    * Blocking-key width is the linkage scale lever: one-word blocks
    * (~92 TPC-H first words) put 3.1 M candidate pairs through the
    * Jaro–Winkler kernel (measured 9.2 s solo at sf0.1 — the kernel
    * floor alone is ~5 s, r7's top weak row), while the two-word key
    * (~8.4 k blocks) bounds pairs near the record count and the whole
    * query drops under a second with identical per-pair math. Standard
    * Fellegi–Sunter practice: widen recall with a second blocking
    * PASS (union of keys), never by coarsening one key until the
    * candidate relation goes quadratic.
    */
  def q140LinkageScores(spark: SparkSession, d: String): DataFrame =
    felligiSunterScores(
      Tables.part(spark, d).select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        col("p_brand"), col("p_type")),
      "id", "name",
      substring_index(col("name"), " ", 2),
      nameTheta = 0.92, nameM = 0.9, nameU = 0.05,
      fields = Seq(("p_brand", 0.95, 0.2), ("p_type", 0.9, 0.25)),
      upperT = 6.0, lowerT = 2.0,
      // volume control for the declared relation: keep scored pairs
      // that agree on at least one axis — exactly "weight above the
      // all-disagree floor" (any agreement term is positive), pushed
      // into the builder so the filter never re-inlines the kernel
      informativeOnly = true)

  val q140Sql: String = {
    def w(agree: String, m: Double, u: Double): String =
      s"CASE WHEN $agree THEN log2(${m / u}) ELSE log2(${(1 - m) / (1 - u)}) END"
    val weight =
      w("jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92", 0.9, 0.05) +
        " + " + w("a.p_brand = b.p_brand", 0.95, 0.2) +
        " + " + w("a.p_type = b.p_type", 0.9, 0.25)
    val floor = math.log((1 - 0.9) / (1 - 0.05)) / math.log(2.0) +
      math.log((1 - 0.95) / (1 - 0.2)) / math.log(2.0) +
      math.log((1 - 0.9) / (1 - 0.25)) / math.log(2.0) + 0.001
    s"""SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
       |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
       |  $weight AS match_weight,
       |  CASE WHEN ($weight) >= 6.0 THEN 'match'
       |       WHEN ($weight) >= 2.0 THEN 'possible'
       |       ELSE 'non_match' END AS link_class
       |FROM part a JOIN part b
       |  ON concat_ws(' ', string_split(a.p_name, ' ')[1],
       |       string_split(a.p_name, ' ')[2])
       |     = concat_ws(' ', string_split(b.p_name, ' ')[1],
       |       string_split(b.p_name, ' ')[2])
       | AND a.p_partkey < b.p_partkey
       |WHERE ($weight) > $floor""".stripMargin
  }

  /** Mutual-best 1:1 assignment over scored candidate pairs — the step
    * BETWEEN pairwise linkage scores ([[felligiSunterScores]]) and a
    * merged entity: each record may link to many candidates, but a
    * golden-record merge needs at most ONE partner, and the standard
    * deterministic rule is symmetric-best ("stable roommates, round
    * one"): keep a pair iff each side is the other's argmax. Scores
    * round to 6 dp before the argmax and ties break to the smaller
    * partner id, so the assignment is engine-reproducible.
    *
    * Scale shape: one explode to directed proposals, one per-node
    * argmax as a PACKED-LONG hash aggregate, one unordered-pair-key
    * aggregate over the |nodes|-sized best relation (count = 2 ⟺
    * mutual — see the inline note). Never quadratic beyond the input
    * pair relation, and never materialized twice.
    *
    * The argmax is `max(packedLong)` rather than the natural
    * `max(struct(w, −partner))`: a struct-typed max compiles to
    * ObjectHashAggregate, which is NOT whole-stage-codegen-able, and
    * because the PARTIAL aggregate fuses into the same stage as the
    * upstream candidate scoring, the struct form de-codegens that
    * entire stage — measured 16.9 s vs 1.3 s for the identical q218
    * plan at sf0.1 (the JW kernel fell back to interpreted eval).
    * Packing contract (documented, satisfied by every linkage score):
    * |score| < 500 after 6-dp rounding, ids integral in [0, 2³²).
    * pk = (w·10⁶ + 2²⁹)·2³² + (2³²−1−partner) orders exactly by
    * (w desc, partner asc) under plain long max.
    */
  def mutualBestMatch(scored: DataFrame, aCol: String, bCol: String,
      scoreCol: String): DataFrame = {
    val pairs = scored.select(col(aCol).as("a"), col(bCol).as("b"),
      round(col(scoreCol), 6).as("w"))
    val directed = pairs
      .select(explode(array(
        struct(col("a").as("me"), col("b").as("partner"), col("w")),
        struct(col("b").as("me"), col("a").as("partner"), col("w"))))
        .as("e"))
      .select(col("e.me").as("me"),
        ((round(col("e.w") * 1e6).cast("long") + (1L << 29)) * (1L << 32)
          + (lit((1L << 32) - 1) - col("e.partner"))).as("__pk"))
    val best = directed
      .groupBy(col("me"))
      .agg(max(col("__pk")).as("__pk"))
      .select(col("me"),
        (lit((1L << 32) - 1) - col("__pk").bitwiseAND(lit((1L << 32) - 1)))
          .as("partner"),
        ((shiftright(col("__pk"), 32) - (1L << 29)).cast("double") / 1e6)
          .as("w"))
    // Reciprocity WITHOUT a self-join: `best` has exactly one row per
    // node, and both directed argmax rows of a mutual pair carry the
    // same unordered key and the same pair score, so grouping on
    // (least, greatest) and keeping count = 2 groups IS the mutual
    // test. The former best⋈best self-join needed `best` twice — a
    // localCheckpoint barrier (full extra materialization of the
    // upstream pair scoring) plus a join stage; this is one more hash
    // aggregate on the |nodes|-sized relation in the SAME linear
    // pipeline (measured 3.3 → ~1.9 s suite-context at sf0.1).
    best
      .select(least(col("me"), col("partner")).as("a"),
        greatest(col("me"), col("partner")).as("b"), col("w"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__c"), max(col("w")).as("match_weight"))
      .where(col("__c") === 2)
      .select(col("a").as(aCol), col("b").as(bCol), col("match_weight"))
  }

  /** Declared q218: the q140 scored pairs resolved to a 1:1 matching. */
  def q218MutualBest(spark: SparkSession, d: String): DataFrame =
    mutualBestMatch(q140LinkageScores(spark, d),
      "a_id", "b_id", "match_weight")

  val q218Sql: String =
    s"""WITH scored AS (${q140Sql}),
       |directed AS (
       |  SELECT a_id AS me, b_id AS partner,
       |    round(match_weight, 6) AS w FROM scored
       |  UNION ALL
       |  SELECT b_id, a_id, round(match_weight, 6) FROM scored),
       |best AS (
       |  SELECT me, partner, w FROM directed
       |  QUALIFY row_number() OVER (PARTITION BY me
       |    ORDER BY w DESC, partner) = 1)
       |SELECT x.me AS a_id, x.partner AS b_id, x.w AS match_weight
       |FROM best x JOIN best y
       |  ON y.me = x.partner AND y.partner = x.me
       |WHERE x.me < x.partner""".stripMargin

  /** Unsupervised EM estimation of the Fellegi–Sunter parameters
    * (Winkler 1988) — where [[felligiSunterScores]]'s m/u come FROM
    * when no labeled pairs exist: collapse the blocked candidate pairs
    * to their agreement-PATTERN counts (2^F rows for F binary field
    * comparisons — a DOMAIN-bounded relation), then run the standard
    * two-class EM on the pattern mixture: E-step posterior
    * g(γ) = p·Π m^γ(1−m)^(1−γ) / (that + (1−p)·Π u^γ(1−u)^(1−γ)),
    * M-step re-estimates p and the per-field m/u from g-weighted
    * pattern counts. A PINNED iteration count (no convergence test)
    * keeps the trajectory engine-replayable, and the oracle unrolls
    * the identical recurrence over the same 2^F-row relation.
    *
    * Scale shape: ONE aggregate over the blocked pairs (the q140
    * candidate shape — never all-pairs) collapses everything to 2^F
    * counts; EM runs on collected metadata (the q266 domain-bounded
    * discipline). Deterministic init p=0.1, m=0.8, u=0.2.
    *
    * @return one row per field: (field, m, u, p, n_pairs), 6 dp
    */
  def fsParameterEm(records: DataFrame, idCol: String, nameCol: String,
      blockCol: Column, nameTheta: Double,
      fields: Seq[String], iterations: Int = 10): DataFrame = {
    val spark = records.sparkSession
    val a = records.select(
      (col(idCol).as("a_id") +: col(nameCol).as("a_name") +:
        fields.map(f => col(f).as(s"a_$f"))) :+ blockCol.as("block"): _*)
    val b = records.select(
      (col(idCol).as("b_id") +: col(nameCol).as("b_name") +:
        fields.map(f => col(f).as(s"b_$f"))) :+ blockCol.as("block"): _*)
    val gammaCols =
      (graft.functions.GraftFunctions.jaroWinkler(
        col("a_name"), col("b_name")) >= nameTheta).as("__g0") +:
        fields.zipWithIndex.map { case (f, i) =>
          (col(s"a_$f") === col(s"b_$f")).as(s"__g${i + 1}")
        }
    val nF = fields.length + 1
    val patterns = a.join(b, Seq("block"))
      .where(col("a_id") < col("b_id"))
      .select(gammaCols: _*)
      .groupBy((0 until nF).map(i => col(s"__g$i")): _*)
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => ((0 until nF).map(r.getBoolean), r.getLong(nF)))
      .sortBy(_._1.toString) // deterministic fold order
    val nTotal = patterns.map(_._2).sum.toDouble
    var p = 0.1
    var m = Array.fill(nF)(0.8)
    var u = Array.fill(nF)(0.2)
    for (_ <- 1 to iterations) {
      var gSum = 0.0
      val gm = Array.fill(nF)(0.0)
      val gu = Array.fill(nF)(0.0)
      var guSum = 0.0
      patterns.foreach { case (gamma, n) =>
        var pm = p; var pu = 1.0 - p
        var i = 0
        while (i < nF) {
          pm *= (if (gamma(i)) m(i) else 1.0 - m(i))
          pu *= (if (gamma(i)) u(i) else 1.0 - u(i))
          i += 1
        }
        val g = pm / (pm + pu)
        gSum += g * n; guSum += (1.0 - g) * n
        i = 0
        while (i < nF) {
          if (gamma(i)) { gm(i) += g * n; gu(i) += (1.0 - g) * n }
          i += 1
        }
      }
      p = gSum / nTotal
      m = (0 until nF).map(i => gm(i) / gSum).toArray
      u = (0 until nF).map(i => gu(i) / guSum).toArray
    }
    import spark.implicits._
    val names = s"name_jw_ge_$nameTheta" +: fields
    (0 until nF).map(i => (names(i), m(i), u(i), p, nTotal.toLong))
      .toDF("field", "m", "u", "p", "n_pairs")
      .select(col("field"), round(col("m"), 6).as("m"),
        round(col("u"), 6).as("u"), round(col("p"), 6).as("p"),
        col("n_pairs"))
  }

  /** Declared q269: EM-estimated FS parameters on the q140 two-word
    * blocking (name JW ≥ 0.92, brand, type), 10 pinned iterations.
    */
  def q269FsEm(spark: SparkSession, d: String): DataFrame =
    fsParameterEm(
      Tables.part(spark, d).select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        col("p_brand"), col("p_type")),
      "id", "name",
      substring_index(col("name"), " ", 2),
      nameTheta = 0.92,
      fields = Seq("p_brand", "p_type"))

  val q269Sql: String = {
    val gammas = Seq(
      "jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92",
      "a.p_brand = b.p_brand", "a.p_type = b.p_type")
    val iters = (1 to 10).map { t =>
      s"""e$t AS MATERIALIZED (
         |  SELECT pat.g0, pat.g1, pat.g2, pat.n,
         |    q.p * (CASE WHEN pat.g0 THEN q.m0 ELSE 1 - q.m0 END)
         |        * (CASE WHEN pat.g1 THEN q.m1 ELSE 1 - q.m1 END)
         |        * (CASE WHEN pat.g2 THEN q.m2 ELSE 1 - q.m2 END) AS pm,
         |    (1 - q.p) * (CASE WHEN pat.g0 THEN q.u0 ELSE 1 - q.u0 END)
         |        * (CASE WHEN pat.g1 THEN q.u1 ELSE 1 - q.u1 END)
         |        * (CASE WHEN pat.g2 THEN q.u2 ELSE 1 - q.u2 END) AS pu
         |  FROM pat CROSS JOIN q${t - 1} q),
         |q$t AS MATERIALIZED (
         |  SELECT sum(pm / (pm + pu) * n) / (SELECT sum(n) FROM pat) AS p,
         |    sum(CASE WHEN g0 THEN pm / (pm + pu) * n ELSE 0 END)
         |      / sum(pm / (pm + pu) * n) AS m0,
         |    sum(CASE WHEN g1 THEN pm / (pm + pu) * n ELSE 0 END)
         |      / sum(pm / (pm + pu) * n) AS m1,
         |    sum(CASE WHEN g2 THEN pm / (pm + pu) * n ELSE 0 END)
         |      / sum(pm / (pm + pu) * n) AS m2,
         |    sum(CASE WHEN g0 THEN (1 - pm / (pm + pu)) * n ELSE 0 END)
         |      / sum((1 - pm / (pm + pu)) * n) AS u0,
         |    sum(CASE WHEN g1 THEN (1 - pm / (pm + pu)) * n ELSE 0 END)
         |      / sum((1 - pm / (pm + pu)) * n) AS u1,
         |    sum(CASE WHEN g2 THEN (1 - pm / (pm + pu)) * n ELSE 0 END)
         |      / sum((1 - pm / (pm + pu)) * n) AS u2
         |  FROM e$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH pat AS MATERIALIZED (
       |  SELECT ${gammas(0)} AS g0, ${gammas(1)} AS g1, ${gammas(2)} AS g2,
       |    count(*) AS n
       |  FROM part a JOIN part b
       |    ON concat_ws(' ', string_split(a.p_name, ' ')[1],
       |         string_split(a.p_name, ' ')[2])
       |       = concat_ws(' ', string_split(b.p_name, ' ')[1],
       |         string_split(b.p_name, ' ')[2])
       |   AND a.p_partkey < b.p_partkey
       |  GROUP BY 1, 2, 3),
       |q0 AS (SELECT 0.1 AS p, 0.8 AS m0, 0.8 AS m1, 0.8 AS m2,
       |         0.2 AS u0, 0.2 AS u1, 0.2 AS u2),
       |$iters,
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_pairs FROM pat)
       |SELECT f.field,
       |  round(CASE f.i WHEN 0 THEN q.m0 WHEN 1 THEN q.m1 ELSE q.m2 END, 6) AS m,
       |  round(CASE f.i WHEN 0 THEN q.u0 WHEN 1 THEN q.u1 ELSE q.u2 END, 6) AS u,
       |  round(q.p, 6) AS p,
       |  tot.n_pairs
       |FROM (VALUES (0, 'name_jw_ge_0.92'), (1, 'p_brand'), (2, 'p_type'))
       |  f(i, field)
       |CROSS JOIN q10 q CROSS JOIN tot""".stripMargin
  }
}
