package perfbench

import graft.functions.TextFunctions
import graft.operators.{AggSpec, Dedup, GroupBy, Joins, Margins, Pq, Reshape,
  RollingOps, SelectionOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A count computed inline on a call's output (through `observe`, in the
  * same job that forces it) and the condition it must meet.
  */
final case class Check(name: String, expr: Column, ok: Long => Boolean)

/** One timed call into exactly one layer: `run` calls the operator and
  * returns its output, which the protocol forces through the noop sink.
  */
final case class Call(layer: String, name: String, run: () => DataFrame,
    checks: Seq[Check] = Nil)

/** A reference output: `cols` of `base` on the rows where `keep` holds.
  * References sharing a base are hashed in one job.
  */
final case class Ref(base: DataFrame, cols: Seq[Column], keep: Column = lit(true))

/** A seeded workload. The program receives only the tables generated
  * here, cached before timing.
  */
trait Workload {
  /** Seeded generator plans, by table name. */
  def tables(spark: SparkSession): Seq[(String, DataFrame)]
  /** The call sequence of one pass over the cached tables. */
  def pass(in: Map[String, DataFrame]): Seq[Call]
  /** Set-up on the cached tables: the plain Spark SQL form of each call
    * that has one (the call's output must hash equal to it), and any
    * counts the checks need.
    */
  def prepare(in: Map[String, DataFrame]): Map[String, Ref] = Map.empty
  /** Seconds one pass takes on a 4-core host; fixes how many passes a
    * run of `--seconds` makes, so every run of a workload has the same
    * number of latency samples.
    */
  def nominalPassS: Double
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "groupby_uniform" => new GroupbyUniform(seed)
    case "groupby_hotkey"  => new GroupbyHotkey(seed)
    case "curation"        => new Curation(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Seeded, partitioning-independent generators: every value is a function
  * of (seed, salt, row id) through xxhash64.
  */
object Gen {
  def h(seed: Long, salt: Int, parts: Column*): Column =
    xxhash64(lit(seed) +: lit(salt) +: parts: _*)

  /** Uniform in (0, 1). */
  def uniform(seed: Long, salt: Int, parts: Column*): Column =
    (pmod(h(seed, salt, parts: _*), lit(1L << 30)).cast("double") + 0.5) / (1L << 30)

  /** Standard normal (Box-Muller), quantized to multiples of 1/1024: sums
    * of such values are exact in double arithmetic, so result hashes do
    * not depend on the order in which partitions are summed.
    */
  def randn(seed: Long, salt: Int, id: Column): Column = {
    val g = sqrt(log(uniform(seed, salt, id)) * -2.0) *
      cos(uniform(seed, salt + 1, id) * (2 * math.Pi))
    floor(g * 1024.0).cast("double") / 1024.0
  }

  /** randn with about 5% nulls and 0.5% NaN. */
  def value(seed: Long, salt: Int, id: Column): Column = {
    val u = pmod(h(seed, salt, id), lit(1000L))
    when(u < 50, lit(null).cast("double"))
      .when(u < 55, lit(Double.NaN))
      .otherwise(randn(seed, salt + 2, id))
  }
}

/** The reference harness (1,000 groups, window 50): one table with a
  * low- and a high-cardinality key.
  */
final class GroupbyUniform(seed: Long) extends Workload {
  val n = 300000L
  val nominalPassS = 6.0
  private val window = 50
  private val vals = Seq(col("v1"), col("v2"))
  private val maskIds: Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(1000)(rnd.nextLong(n)).distinct
  }
  private val masks = Seq(
    "bool" -> col("m"),
    "slice" -> GroupBy.maskSlice(col("id"), n / 4, 3 * n / 4),
    "indices" -> GroupBy.maskIndices(col("id"), maskIds))
  private val ops: Seq[(String, Column => Column)] = Seq(
    "sum" -> (sum(_)), "mean" -> (avg(_)), "min" -> (min(_)), "max" -> (max(_)),
    "count" -> (count(_)))

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    Seq("t" -> spark.range(n).select(id,
      pmod(Gen.h(seed, 1, id), lit(1000L)).cast("int").as("k_lo"),
      pmod(Gen.h(seed, 2, id), lit(n / 4)).as("k_hi"),
      Gen.value(seed, 3, id).as("v1"),
      Gen.value(seed, 7, id).as("v2"),
      (pmod(Gen.h(seed, 11, id), lit(10L)) < 7).as("m"),
      concat(lit("c"), pmod(Gen.h(seed, 12, id), lit(8L)).cast("string")).as("c")))
  }

  def pass(in: Map[String, DataFrame]): Seq[Call] = {
    val t = in("t")
    // one GroupBy per key, reused by every aggregation on that key
    lazy val lo = GroupBy(t, Seq(col("k_lo")))
    lazy val hi = GroupBy(t, Seq(col("k_hi")))
    lazy val roll = new RollingOps(lo)
    val ord = col("id")
    val loCalls: Seq[(String, () => DataFrame)] = Seq(
      "sum" -> (() => lo.sum(vals)), "mean" -> (() => lo.mean(vals)),
      "min" -> (() => lo.min(vals)), "max" -> (() => lo.max(vals)),
      "count" -> (() => lo.count(vals))) ++
      masks.map { case (form, m) => s"sum_mask_$form" -> (() => lo.sum(vals, mask = Some(m))) }
    loCalls.map { case (op, f) => Call("GroupBy", s"k_lo.$op", f) } ++ Seq(
      Call("GroupBy", "k_hi.agg", () =>
        hi.aggregate(ops.map { case (op, _) => AggSpec(op, col("v1"), op) })),
      Call("Rolling", "rolling_sum", () => roll.rollingSum(col("v1"), ord, window, Some(1))),
      Call("Rolling", "rolling_max", () => roll.rollingMax(col("v1"), ord, window, Some(1))),
      Call("Rolling", "cumsum", () => roll.cumsum(col("v1"), ord)),
      Call("Reshape", "crosstab_margins", () => Reshape.crosstab(
        t, Seq(col("k_lo")), col("c"), value = Some("sum" -> col("v1")),
        margins = Margins.All)))
  }

  override def prepare(in: Map[String, DataFrame]): Map[String, Ref] = {
    val t = in("t")
    def v(c: String, mask: Option[Column]) = mask.fold(col(c))(m => when(m, col(c)))
    // every k_lo aggregation, masked or not, from one groupBy; a masked
    // aggregation keeps only groups with a row passing the mask
    val loAggs = (for ((op, f) <- ops; c <- Seq("v1", "v2")) yield f(col(c)).as(s"${op}_$c")) ++
      masks.flatMap { case (form, m) => Seq(sum(v("v1", Some(m))).as(s"${form}_v1"),
        sum(v("v2", Some(m))).as(s"${form}_v2"), count(when(m, 1)).as(s"${form}_rows")) }
    val lo = t.groupBy(col("k_lo")).agg(loAggs.head, loAggs.tail: _*)
    val loRefs = ops.map { case (op, _) =>
      s"k_lo.$op" -> Ref(lo, Seq(col("k_lo"), col(s"${op}_v1"), col(s"${op}_v2")))
    } ++ masks.map { case (form, _) =>
      s"k_lo.sum_mask_$form" -> Ref(lo, Seq(col("k_lo"), col(s"${form}_v1"),
        col(s"${form}_v2")), col(s"${form}_rows") > 0)
    }
    val hiAggs = ops.map { case (op, f) => f(col("v1")).as(op) }
    val hi = t.groupBy(col("k_hi")).agg(hiAggs.head, hiAggs.tail: _*)
    val byKey = Window.partitionBy(col("k_lo")).orderBy(col("id"))
    val frame = byKey.rowsBetween(-(window - 1), Window.currentRow)
    val inFrame = count(col("v1")).over(frame) >= 1
    val windows = t
      .withColumn("rolling_sum", when(inFrame, sum(col("v1")).over(frame)))
      .withColumn("rolling_max", when(inFrame, max(col("v1")).over(frame)))
      .withColumn("cumsum", sum(col("v1")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def withOut(c: String) = Ref(windows, t.columns.toSeq.map(col) :+ col(c))
    // crosstab with margins: body cells, the "All" column (per index
    // value), the "All" row (per column value) and the grand total
    val idx = col("k_lo").cast("string").as("k_lo")
    val cc = col("c").as("c")
    val cell = sum(col("v1")).as("cell")
    val cells = t.groupBy(idx, cc).agg(cell)
      .unionByName(t.groupBy(idx).agg(cell).withColumn("c", lit("All")))
      .unionByName(t.groupBy(cc).agg(cell).withColumn("k_lo", lit("All")))
      .unionByName(t.agg(cell).withColumn("k_lo", lit("All")).withColumn("c", lit("All")))
    val domain = (0 until 8).map(i => s"c$i") :+ "All"
    val crosstab = cells.groupBy("k_lo").pivot("c", domain).agg(first(col("cell")))
    (loRefs ++ Seq(
      "k_hi.agg" -> Ref(hi, hi.columns.toSeq.map(col)),
      "rolling_sum" -> withOut("rolling_sum"),
      "rolling_max" -> withOut("rolling_max"),
      "cumsum" -> withOut("cumsum"),
      "crosstab_margins" -> Ref(crosstab, crosstab.columns.toSeq.map(col)))).toMap
  }
}

/** One key value holds about 80% of the rows, so one task holds most of
  * every per-key call's work. Each skew-sensitive call runs on its
  * default path and on its skew path (`aggregateSalted`, `sliceWidth`).
  */
final class GroupbyHotkey(seed: Long) extends Workload {
  val n = 200000L
  val nominalPassS = 6.0
  /** 64 time slices over the hot key's span. */
  private val width = n * 1000L / 64

  private def user(salt: Int, id: Column): Column =
    when(pmod(Gen.h(seed, salt, id), lit(5L)) =!= 0, lit(0L))
      .otherwise(pmod(Gen.h(seed, salt + 1, id), lit(997L)) + 1)

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    Seq(
      "left" -> spark.range(n).select(user(1, id).as("user_id"),
        (id * 1000L).as("ts"), id.as("event_id"), Gen.value(seed, 3, id).as("v")),
      // right ts are 7 mod 1000, left ts 0 mod 1000: no exact ts ties
      "right" -> spark.range(n / 10).select(user(11, id).as("user_id"),
        (id * 10000L + 7L).as("ts"), Gen.randn(seed, 13, id).as("p_value")))
  }

  private val specs = Seq(AggSpec("sum", col("v"), "sum_v"),
    AggSpec("mean", col("v"), "mean_v"), AggSpec("max", col("v"), "max_v"),
    AggSpec("count", col("v"), "count_v"))

  def pass(in: Map[String, DataFrame]): Seq[Call] = {
    val (left, right) = (in("left"), in("right"))
    lazy val gb = GroupBy(left, Seq(col("user_id")))
    def rolling(w: Option[Long]) = new RollingOps(gb).rollingSum(col("v"),
      col("ts"), 50, minPeriods = Some(1), sliceWidth = w)
    def head(w: Option[Long]) =
      new SelectionOps(gb).head(5, Seq(col("ts")), sliceWidth = w)
    def asof(w: Option[Long]) = Joins.asof(left, right, Seq("user_id"), "ts",
      "ts", rightVals = Seq("p_value" -> "p_value"), sliceWidth = w)
    Seq(
      Call("GroupBy", "agg", () => gb.aggregate(specs)),
      Call("GroupBy", "agg_salted", () => gb.aggregateSalted(specs)),
      Call("Rolling", "rolling_sum", () => rolling(None)),
      Call("Rolling", "rolling_sum_sliced", () => rolling(Some(width))),
      Call("Reshape", "head", () => head(None)),
      Call("Reshape", "head_sliced", () => head(Some(width))),
      Call("Joins", "asof", () => asof(None)),
      Call("Joins", "asof_sliced", () => asof(Some(width))))
  }

  override def prepare(in: Map[String, DataFrame]): Map[String, Ref] = {
    val (left, right) = (in("left"), in("right"))
    val v = col("v")
    val agg = left.groupBy(col("user_id")).agg(sum(v).as("sum_v"),
      avg(v).as("mean_v"), max(v).as("max_v"), count(v).as("count_v"))
    val aggRef = Ref(agg, agg.columns.toSeq.map(col))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val frame = byUser.rowsBetween(-49, Window.currentRow)
    val windows = left
      .withColumn("rolling_sum", when(count(v).over(frame) >= 1, sum(v).over(frame)))
      .withColumn("__pos", row_number().over(byUser))
    val leftCols = left.columns.toSeq.map(col)
    val rolling = Ref(windows, leftCols :+ col("rolling_sum"))
    val head = Ref(windows, leftCols, col("__pos") <= 5)
    // backward as-of match: the latest right row at or before each left ts
    val both = left.select(col("user_id"), col("ts"), col("event_id"), v,
        lit(null).cast("double").as("p_value"))
      .unionByName(right.select(col("user_id"), col("ts"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("v"),
        col("p_value")))
      .withColumn("__match", last(col("p_value"), ignoreNulls = true).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val asof = Ref(both, leftCols :+ col("__match"), col("event_id").isNotNull)
    Map("agg" -> aggRef, "agg_salted" -> aggRef, "rolling_sum" -> rolling,
      "rolling_sum_sliced" -> rolling, "head" -> head, "head_sliced" -> head,
      "asof" -> asof, "asof_sliced" -> asof)
  }
}

/** The LLM-data pipeline's layers on a seeded corpus with planted near
  * duplicates, planted eval-set contamination, planted PII and non-Latin
  * scripts, plus entity names with planted typos and clustered
  * embeddings. Each call is checked against what was planted.
  */
final class Curation(seed: Long) extends Workload {
  val nDocs = 2000L
  val nEval = 500L
  val nNames = 4000L
  val nVecs = 4000L
  val dim = 32
  val nQueries = 100L
  val k = 10
  val nominalPassS = 8.0
  /** Right-side ids of typo copies are the left id plus this offset. */
  private val TypoOffset = 1000000000L

  // Fixed vocabularies; the seed only chooses among them.
  private def words(syllables: Seq[String]): Seq[String] =
    for (a <- syllables; b <- syllables; c <- syllables.take(10)) yield a + b + c
  private def chars(from: Int, count: Int, len: Int): Seq[String] = {
    val rnd = new scala.util.Random(from)
    Seq.fill(4000)((0 until len).map(_ =>
      new String(Character.toChars(from + rnd.nextInt(count)))).mkString)
  }
  private val vocabs: Seq[Seq[String]] = Seq(
    words(Seq("ka", "lo", "mi", "ne", "tu", "sa", "ri", "po", "de", "fa",
      "gu", "he", "ji", "ba", "ce", "vo", "wi", "ze", "ya", "xu")),
    words(Seq("ка", "ло", "ми", "не", "ту", "са", "ри", "по", "де", "фа",
      "гу", "хе", "жи", "ба", "це", "во", "ви", "зе", "я", "шу")),
    chars(0x4E00, 20000, 3),
    chars(0x0627, 36, 5),
    chars(0xAC00, 11000, 3))
  private val vocabSize = 4000L
  private val boilerplate = Seq(
    "terms of service apply to this document",
    "all rights reserved by the original publisher",
    "click here to subscribe to our newsletter",
    "this page was last edited and is available under license",
    "share this article with your friends and family",
    "cookies help us deliver our services to you",
    "read more stories like this in the archive",
    "sign in to join the discussion below")

  private def word(script: Column, idx: Column): Column =
    element_at(element_at(typedLit(vocabs), script + 1), (pmod(idx, lit(vocabSize)) + 1).cast("int"))

  // Planting rules, as functions of the document id.
  /** About 11% of documents copy an earlier document whose id is a
    * multiple of 10 (never itself a copy), differing in one token.
    */
  def isDup(id: Column): Column =
    pmod(id, lit(10L)) =!= 0 && pmod(Gen.h(seed, 20, id), lit(100L)) < 12
  private def src(id: Column): Column =
    when(isDup(id), greatest(id - pmod(id, lit(10L)) - pmod(Gen.h(seed, 21, id), lit(4L)) * 10,
      lit(0L))).otherwise(id)
  /** 0 Latin, 1 Cyrillic, 2 Han, 3 Arabic, 4 Hangul. */
  private def scriptOf(src: Column): Column = {
    val u = pmod(Gen.h(seed, 22, src), lit(100L))
    when(u < 80, 0).when(u < 88, 1).when(u < 94, 2).when(u < 97, 3).otherwise(4)
  }
  /** PII and contamination are planted in Latin documents only, so the
    * other scripts stay the majority of their documents' characters.
    */
  def hasPii(id: Column): Column =
    scriptOf(src(id)) === 0 && pmod(Gen.h(seed, 23, src(id)), lit(100L)) < 10
  def contaminated(id: Column): Column =
    scriptOf(src(id)) === 0 && pmod(Gen.h(seed, 24, src(id)), lit(100L)) < 3
  private def evalToken(e: Column, j: Column): Column =
    word(lit(0), Gen.h(seed, 30, e, j))

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    val s = src(id)
    val script = scriptOf(s)
    val nTokens = lit(30L) + pmod(Gen.h(seed, 25, s), lit(31L))
    val body = concat_ws(" ", transform(sequence(lit(0L), nTokens - 1),
      j => word(script, Gen.h(seed, 26, s, j))))
    val pii = concat(lit("contact user"), pmod(Gen.h(seed, 27, s), lit(100000L)).cast("string"),
      lit("@mail"), pmod(Gen.h(seed, 28, s), lit(50L)).cast("string"),
      lit(".com or +1555"), lpad(pmod(Gen.h(seed, 29, s), lit(10000000L)).cast("string"), 7, "0"))
    val evalDoc = pmod(Gen.h(seed, 31, s), lit(nEval))
    val leak = concat_ws(" ", transform(sequence(lit(2L), lit(13L)), j => evalToken(evalDoc, j)))
    val docs = spark.range(nDocs).select(id.as("doc_id"), concat_ws(" ",
      element_at(typedLit(boilerplate), (pmod(Gen.h(seed, 32, s), lit(8L)) + 1).cast("int")),
      concat(lit("t"), id.cast("string")), body,
      when(hasPii(id), pii), when(contaminated(id), leak)).as("text"))
    val eval = spark.range(nEval).select(id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0L), lit(19L)), j => evalToken(id, j))).as("text"))
    def name(salt: Int, i: Column): Column = concat(
      substring(md5(concat(lit(s"$seed:$salt:"), i.cast("string"))), 1, 10), lit(" "),
      word(lit(0), Gen.h(seed, salt + 1, i)), lit(" "), word(lit(0), Gen.h(seed, salt + 2, i)))
    val left = spark.range(nNames).select(id, name(40, id).as("name"))
    val typo = pmod(Gen.h(seed, 45, id), lit(100L)) < 25
    val l = name(40, id)
    val right = spark.range(nNames).select(
      when(typo, id + TypoOffset).otherwise(id + 2 * TypoOffset).as("id"),
      when(typo, concat(substring(l, 1, 4), lit("x"), substring(l, 6, 1000)))
        .otherwise(name(50, id)).as("name"))
    val cluster = pmod(Gen.h(seed, 60, id), lit(16L))
    def unit(c: Column): Column = (pmod(c, lit(2001L)) - 1000).cast("double") / 1000.0
    val vecs = spark.range(nVecs).select(id.as("vec_id"),
      transform(sequence(lit(0L), lit(dim - 1L)), j =>
        unit(Gen.h(seed, 61, cluster, j)) + unit(Gen.h(seed, 62, id, j)) / 3.0)
        .cast("array<float>").as("vec"))
    Seq("docs" -> docs, "eval" -> eval, "left" -> left, "right" -> right, "vecs" -> vecs)
  }

  def pass(in: Map[String, DataFrame]): Seq[Call] = {
    val docs = in("docs")
    val text = col("text")
    val id = col("doc_id")
    def zero(name: String, e: Column) = Check(name, e, _ == 0)
    val ofScript = scriptOf(src(id))
    val expectedLang = when(ofScript === 1, "ru").when(ofScript === 2, "zh")
      .when(ofScript === 3, "ar").when(ofScript === 4, "ko")
    val signals = Call("TextFunctions", "text_signals", () => docs.select(id,
      TextFunctions.qualityScore(text, length(text)).as("quality"),
      TextFunctions.scriptFractions(text).as("scripts"),
      TextFunctions.langIdScript(text).as("lang"),
      TextFunctions.piiStats(text).as("pii"),
      TextFunctions.normalizeForDedup(text).as("norm"),
      TextFunctions.fingerprint(text).as("fp")), Seq(
      zero("non-Latin documents with the wrong script language",
        count(when(expectedLang.isNotNull && expectedLang =!= col("lang"), 1))),
      zero("planted e-mail addresses missed",
        count(when(hasPii(id) && col("pii.n_email") < 1, 1))),
      Check("rows", count(lit(1)), _ == nDocs)))
    val dedup = Call("Dedup", "minhash_keep", () =>
      Dedup.minHashKeep(docs, id, text, ord = id), Seq(
      zero("planted near-duplicates kept", count(when(isDup(id) && col("kept"), 1))),
      Check("rows", count(lit(1)), _ == nDocs)))
    val contamination = Call("Dedup", "contamination_bloom", () =>
      Dedup.contaminationFlags(docs, id, text,
        Dedup.evalGramBloom(in("eval"), text, n = 8, fpp = 1e-4), n = 8), Seq(
      zero("planted contamination missed",
        count(when(contaminated(id) && !col("maybe_contaminated"), 1))),
      Check("clean documents flagged (at most 2%)",
        count(when(!contaminated(id) && col("maybe_contaminated"), 1)),
        _ <= nDocs / 50),
      Check("rows", count(lit(1)), _ == nDocs)))
    val fuzzy = Call("Joins", "fuzzy_join", () => Joins.fuzzyJoin(
      in("left"), col("id"), col("name"), in("right"), col("id"), col("name"),
      maxDist = 1), Seq(
      Check("planted typo pairs found",
        count(when(col("right_id") - col("left_id") === TypoOffset, 1)),
        _ == plantedTypos),
      zero("pairs beyond the edit distance", count(when(col("dist") > 1, 1)))))
    val vecs = in("vecs")
    val topK = Call("Pq", "pq_fit_adc_topk", () => {
      val model = Pq.fit(vecs, col("vec_id"), col("vec"), dim = dim, m = 8,
        ksub = 16, iters = 2)
      Pq.adcTopK(vecs, vecs.filter(col("vec_id") < nQueries), col("vec_id"),
        col("vec"), k, model)
    }, Seq(
      Check("rows", count(lit(1)), _ == nQueries * k),
      Check("queries with a first hit", count(when(col("rank") === 1, 1)), _ == nQueries),
      zero("ranks outside 1..k", count(when(col("rank") < 1 || col("rank") > k, 1))),
      zero("self hits", count(when(col("nid") === col("qid"), 1))),
      zero("hits outside the corpus", count(when(col("nid") < 0 || col("nid") >= nVecs, 1)))))
    Seq(signals, dedup, contamination, fuzzy, topK)
  }

  /** Counted in [[prepare]], before any pass runs. */
  @volatile private var plantedTypos = -1L

  override def prepare(in: Map[String, DataFrame]): Map[String, Ref] = {
    plantedTypos = in("right").filter(col("id") < 2 * TypoOffset).count()
    Map.empty
  }
}
