package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Gecko
import graft.gen.{Generator, Generators, ToDataFrame}
import graft.mut.{Cldr, MutateDataFrame, Mutator, Mutators, RuleMutators}
import graft.queries.{Dedup, Linkage, Similarity, TextAnalysis}

/** What a workload's calls see: the session, the tracer, the sinks, the
  * seeds and a work directory inside the checkout. Every iteration of a
  * run uses the same seeds, so timed iterations repeat the warm-up's
  * plans (and hit Spark's generated-code cache, as a steady job does). */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val sinks: Sinks, val seeds: Seeds, val work: String) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def path(name: String): String = s"$work/$name"
}

/** Checks, the values they measured, and the per-seed facts a pinned
  * reference is made from. */
final case class Verified(checks: Seq[Check], values: Map[String, Double],
                          facts: Map[String, String] = Map.empty)

/** One benchmark workload. `iteration` is the timed closed-loop call
  * sequence; every action it runs is a sink over all output columns. */
trait Workload {
  def name: String
  /** Rows (or corpus documents) one iteration processes. */
  def rows: Long
  /** Writes the run's stored inputs; untimed, once per run. */
  def prepare(ctx: Ctx): Unit = ()
  /** One timed iteration; returns the frames the traced probes reuse. */
  def iteration(ctx: Ctx): Map[String, DataFrame]
  /** Traced runs only: extra actions that split the iteration's time by
    * layer (noop sinks of the input and output of a layer). Returns
    * counts measured on the side. */
  def probes(ctx: Ctx, frames: Map[String, DataFrame]): Map[String, Double] =
    Map.empty
  /** Defined when every iteration writes exactly one frame, the mutated
    * one, of this many rows: then the row count is checked and
    * `sink.self_s` (parquet minus noop of the same frame) is defined. */
  def outputRows: Option[Long] = None
  /** Correctness checks on the last iteration's outputs; untimed. */
  def verify(ctx: Ctx, pinned: Pinned): Verified
}

object Workloads {
  val names: Seq[String] =
    Seq("synth_pipeline", "mutate_table", "link_eval", "text_curation")

  def apply(name: String, seeds: Seeds): Workload = name match {
    case "synth_pipeline" => new SynthPipeline(seeds)
    case "mutate_table" => new MutateTable(seeds)
    case "link_eval" => new LinkEval(seeds)
    case "text_curation" => new TextCuration(seeds)
  }

  /** Requested-vs-realized p over every (mutator, column) checked, as
    * checks plus the `p_abs_err_max` value. */
  def pChecks(rates: Seq[PRate]): (Seq[Check], Double) = {
    val checks = rates.map { r =>
      Check(s"p.${r.column}", r.absErr <= r.tolerance,
        f"${r.mutator} requested ${r.requested}%.3f realized ${r.realized}%.5f " +
          f"(|err| ${r.absErr}%.5f, tol ${r.tolerance}%.5f)")
    }
    (checks, rates.map(_.absErr).max)
  }

  def rowCount(label: String, df: DataFrame, want: Long): Check = {
    val got = df.count()
    Check(s"rows.$label", got == want, s"$got rows, expected $want")
  }

  def keymap: Map[Char, String] =
    Cldr.neighborCandidates(
      classOf[Generator].getResourceAsStream("/assets/de-t-k0-windows.xml"), None)
}

/** Person-like vocabularies shared by the generation workloads; fixed
  * per run. */
final class People(seeds: Seeds) {
  val given: Array[String] = Vocab.capitalized(Vocab.words(seeds.rng("given"), 500, 1, 3))
  val last: Array[String] = Vocab.capitalized(Vocab.words(seeds.rng("last"), 2000, 2, 4))
  val cities: Array[String] = Vocab.capitalized(Vocab.words(seeds.rng("city"), 300, 2, 4))
  val zips: Array[String] = Vocab.codes(seeds.rng("zip"), 300, 5)

  /** Frequency-table generators: collect + broadcast of each table.
    * Given names are equally frequent: `WithCategoricalValues` finds a
    * value by a linear scan of its sorted list, so under skewed
    * frequencies its cost per row would change with where a seed's most
    * frequent names happen to sort. */
  def givenGen(s: SparkSession, seed: Long): Generator =
    Generators.fromFrequencyTable(s, Vocab.table(s, Seq("v"),
      given.toSeq.map(Seq(_)), Seq.fill(given.length)(1)), "v", "freq", seed)
  def lastGen(s: SparkSession, seed: Long): Generator =
    Generators.fromFrequencyTable(s, Vocab.table(s, Seq("v"),
      last.toSeq.map(Seq(_)), Vocab.zipf(last.length)), "v", "freq", seed)
  def cityZipGen(s: SparkSession, seed: Long): Generator =
    Generators.fromMulticolumnFrequencyTable(s, Vocab.table(s, Seq("city", "zip"),
      cities.toSeq.zip(zips).map { case (c, z) => Seq(c, z) },
      Vocab.zipf(cities.length)), Seq("city", "zip"), "freq", seed)
  def dobGen(seed: Long): Generator =
    Generators.FromDatetimeRange("1940-01-01", "2005-12-31", "%Y-%m-%d", "d",
      seed = seed)
}

// ---------------------------------------------------------------------------
/** Generate every expression-backed generator kind, mutate with a02's four
  * mutators plus two more, write parquet. */
final class SynthPipeline(seeds: Seeds) extends Workload {
  val name = "synth_pipeline"
  val rows = 40000L
  private val people = new People(seeds)
  private val keymap = Workloads.keymap
  override def outputRows: Option[Long] = Some(rows)

  /** Output columns of each generator of [[generated]], in order. */
  private val genColumns: Seq[Seq[String]] = Seq(Seq("person_id"),
    Seq("given_name"), Seq("last_name"), Seq("city", "zip"), Seq("height"),
    Seq("weight"), Seq("birth_date"))

  private def generated(s: SparkSession, sd: Seeds): DataFrame = ToDataFrame(s,
    genColumns.zip(Seq(
      Generators.FromFunction(rid => f"P$rid%010d"),
      people.givenGen(s, sd("given")),
      people.lastGen(s, sd("last")),
      people.cityZipGen(s, sd("cityzip")),
      Generators.FromUniformDistribution(150, 200, 1, sd("height")),
      Generators.FromNormalDistribution(75, 12, 1, sd("weight")),
      people.dobGen(sd("dob")))), rows)

  /** (column, requested p, mutator). */
  private def spec(sd: Seeds): Seq[(String, Double, Mutator)] = Seq(
    ("birth_date", 0.3, RuleMutators.WithReplacementTable(Seq(
      ("0", "o"), ("1", "|"), ("5", "s"), ("2", "z"), ("9", "g")),
      inline = true, seed = sd("m.ocr"))),
    ("given_name", 0.3, Mutators.WithCategoricalValues(people.given.toSeq, sd("m.cat"))),
    ("height", 0.1, Mutators.WithMissingValue("", sd("m.miss"))),
    ("city", 0.2, RuleMutators.WithCldrKeymap(keymap, sd("m.cldr"))),
    ("last_name", 0.2, Mutators.WithDelete(sd("m.del"))),
    ("weight", 0.1, Mutators.WithSubstitute("#", sd("m.sub"))))

  def iteration(ctx: Ctx): Map[String, DataFrame] = {
    val sd = ctx.seeds
    val gen = ctx.span("gen.prep")(generated(ctx.spark, sd))
    val mutated = ctx.span("mut.stats")(MutateDataFrame(gen,
      spec(sd).map { case (c, p, m) => (Seq(c), Seq((p, m))) }))
    ctx.sinks.parquet("synth.out", mutated, ctx.path("synth_out"), outColumns(sd))
    Map("in" -> gen, "out" -> mutated)
  }

  /** Every generated column plus the row id, and every mutated column. */
  private def genOut: Seq[String] = Gecko.RowId +: genColumns.flatten
  private def outColumns(sd: Seeds): Seq[String] =
    (genOut ++ spec(sd).map(_._1)).distinct

  override def probes(ctx: Ctx, f: Map[String, DataFrame]): Map[String, Double] = {
    ctx.span("probe.gen_eval")(ctx.sinks.noop("synth.gen", f("in"), genOut))
    ctx.span("probe.mut_out")(ctx.sinks.noop("synth.mut", f("out"), outColumns(ctx.seeds)))
    Map.empty
  }

  def verify(ctx: Ctx, pinned: Pinned): Verified = {
    val out = ctx.spark.read.parquet(ctx.path("synth_out"))
    val rates = PRate.measure(generated(ctx.spark, ctx.seeds), out, Gecko.RowId,
      spec(ctx.seeds).map { case (c, p, m) => (m.name, c, p) })
    val (pc, pMax) = Workloads.pChecks(rates)
    Verified(Workloads.rowCount("synth_out", out, rows) +: pc,
      Map("p_abs_err_max" -> pMax))
  }
}

// ---------------------------------------------------------------------------
/** Read a parquet table written for this seed, apply all 19 mutator
  * families at the caller's p, write parquet. */
final class MutateTable(seeds: Seeds) extends Workload {
  val name = "mutate_table"
  val rows = 20000L
  private val P = 0.2
  private val lower = Vocab.words(seeds.rng("lower"), 1500, 2, 4)
  private val upper = Vocab.capitalized(Vocab.words(seeds.rng("upper"), 800, 2, 4))
  private val codes = Vocab.codes(seeds.rng("codes"), 1000, 5)
  private val keymap = Workloads.keymap
  override def outputRows: Option[Long] = Some(rows)

  private val lowerCols = Seq("c_cldr", "c_phon", "c_miss", "c_ins", "c_del",
    "c_trans", "c_sub", "c_cat", "c_perm_a", "c_gen", "c_regex", "c_rep",
    "c_group")
  private val upperCols = Seq("c_perm_b", "c_lower", "c_upper")

  /** One multicolumn frequency table per vocabulary: each column is its
    * own seeded permutation of the words, so a row's columns differ. */
  private def joint(s: SparkSession, vs: Array[String], cols: Seq[String],
                    tag: String): Generator = {
    val rng = seeds.rng(tag)
    val perms = cols.map { _ =>
      val a = vs.clone()
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    Generators.fromMulticolumnFrequencyTable(s, Vocab.table(s, cols,
      vs.indices.map(i => perms.map(_(i))), Vocab.zipf(vs.length)), cols, "freq",
      seeds(tag))
  }

  /** Every column of the stored table, which the output keeps. */
  private val tableColumns: Seq[String] =
    Seq(Gecko.RowId, "c_func", "c_noop", "c_repl", "c_dt") ++ lowerCols ++ upperCols

  private def table(s: SparkSession): DataFrame = ToDataFrame(s, Seq(
    (Seq("c_func"), Generators.FromNormalDistribution(50, 10, 2, seeds("g.func"))),
    (Seq("c_noop"), Generators.FromUniformDistribution(0, 1, 4, seeds("g.noop"))),
    (Seq("c_repl"), Generators.fromFrequencyTable(s, Vocab.table(s, Seq("v"),
      codes.toSeq.map(Seq(_)), Vocab.zipf(codes.length)), "v", "freq", seeds("g.repl"))),
    (Seq("c_dt"), Generators.FromDatetimeRange("2000-01-01", "2020-12-31",
      "%Y-%m-%d", "d", seed = seeds("g.dt"))),
    (lowerCols, joint(s, lower, lowerCols, "g.lower")),
    (upperCols, joint(s, upper, upperCols, "g.upper"))), rows)

  /** (columns, mutator, whether p is checked): one mutator per column. */
  private def spec(sd: Seeds): Seq[(Seq[String], Mutator, Boolean)] = Seq(
    (Seq("c_func"), Mutators.WithFunction(v => v + "~", sd("func")), true),
    (Seq("c_cldr"), RuleMutators.WithCldrKeymap(keymap, sd("cldr")), true),
    (Seq("c_phon"), RuleMutators.WithPhoneticReplacementTable(
      "aeiou".map(v => (v.toString, s"${v}h", "_")), sd("phon")), true),
    (Seq("c_repl"), RuleMutators.WithReplacementTable(
      "0123456789".zip("oizeasbtbg").map { case (d, l) => (d.toString, l.toString) },
      inline = true, seed = sd("repl")), true),
    (Seq("c_miss"), Mutators.WithMissingValue("", sd("miss")), true),
    (Seq("c_ins"), Mutators.WithInsert(seed = sd("ins")), true),
    (Seq("c_del"), Mutators.WithDelete(sd("del")), true),
    (Seq("c_trans"), Mutators.WithTranspose(sd("trans")), true),
    (Seq("c_sub"), Mutators.WithSubstitute("0123456789", sd("sub")), true),
    // the identity mutator changes nothing by definition: not p-checked
    (Seq("c_noop"), Mutators.WithNoop(), false),
    (Seq("c_cat"), Mutators.WithCategoricalValues(lower.toSeq, sd("cat")), true),
    (Seq("c_perm_a", "c_perm_b"), Mutators.WithPermute(sd("perm")), true),
    (Seq("c_lower"), Mutators.WithLowercase(sd("lower")), true),
    (Seq("c_upper"), Mutators.WithUppercase(sd("upper")), true),
    (Seq("c_dt"), Mutators.WithDatetimeOffset(30, "d", "%Y-%m-%d", seed = sd("dt")), true),
    (Seq("c_gen"), Mutators.WithGenerator(
      Generators.FromUniformDistribution(0, 1, 3, sd("gen.g")), "append", seed = sd("gen")),
      true),
    (Seq("c_regex"), RuleMutators.WithRegexReplacementTable(Seq(
      ("^(?P<c>[bdfgklmnprstvz])", "", Map("c" -> "Q"))), sd("regex")), true),
    (Seq("c_rep"), Mutators.WithRepeat("-", sd("rep")), true),
    (Seq("c_group"), Mutators.WithGroup(Seq(
      (0.5, Mutators.WithInsert(seed = sd("group.ins")): Mutator),
      (0.5, Mutators.WithDelete(sd("group.del")))), sd("group")), true))

  override def prepare(ctx: Ctx): Unit =
    table(ctx.spark).write.mode("overwrite").parquet(ctx.path("mt_input"))

  def iteration(ctx: Ctx): Map[String, DataFrame] = {
    val in = ctx.spark.read.parquet(ctx.path("mt_input"))
    val out = ctx.span("mut.stats")(MutateDataFrame(in,
      spec(ctx.seeds).map { case (cs, mu, _) => (cs, Seq((P, mu))) }))
    ctx.sinks.parquet("mutate.out", out, ctx.path("mt_out"), outColumns(ctx.seeds))
    Map("in" -> in, "out" -> out)
  }

  /** The stored table's columns and every mutated column. */
  private def outColumns(sd: Seeds): Seq[String] =
    (tableColumns ++ spec(sd).flatMap(_._1)).distinct

  override def probes(ctx: Ctx, f: Map[String, DataFrame]): Map[String, Double] = {
    ctx.span("probe.mut_in")(ctx.sinks.noop("mutate.in", f("in"), tableColumns))
    ctx.span("probe.mut_out")(ctx.sinks.noop("mutate.mut", f("out"), outColumns(ctx.seeds)))
    Map.empty
  }

  def verify(ctx: Ctx, pinned: Pinned): Verified = {
    val in = ctx.spark.read.parquet(ctx.path("mt_input"))
    val out = ctx.spark.read.parquet(ctx.path("mt_out"))
    val rates = PRate.measure(in, out, Gecko.RowId, for {
      (cs, mu, checked) <- spec(ctx.seeds) if checked
      c <- cs
    } yield (mu.name, c, P))
    val (pc, pMax) = Workloads.pChecks(rates)
    Verified(Seq(Workloads.rowCount("mt_input", in, rows),
      Workloads.rowCount("mt_out", out, rows)) ++ pc,
      Map("p_abs_err_max" -> pMax))
  }
}

// ---------------------------------------------------------------------------
/** Generate identities, corrupt a copy, link the two, cluster the links
  * and score the clusters against the row-id truth. */
final class LinkEval(seeds: Seeds) extends Workload {
  val name = "link_eval"
  val rows = 20000L
  /** Right-side record ids: truth is `b == a + Offset`. */
  private val Offset = 1L << 40
  private val people = new People(seeds)
  private val keymap = Workloads.keymap

  /** Generated columns plus the row id; the mutated ones are among them. */
  private val idColumns = Seq(Gecko.RowId, "given_name", "last_name", "birth_date")
  /** Columns of the linked pairs: both sides' ids and the names compared. */
  private val pairColumns = Seq("a", "name", "b", "rec_name")
  /** Columns `Dedup.clusterPairs` returns. */
  private val clusterColumns = Seq("doc_id", "cluster_id", "keep")

  private def identities(s: SparkSession, sd: Seeds): DataFrame = ToDataFrame(s, Seq(
    (Seq("given_name"), people.givenGen(s, sd("given"))),
    (Seq("last_name"), people.lastGen(s, sd("last"))),
    (Seq("birth_date"), people.dobGen(sd("dob")))), rows)

  private def spec(sd: Seeds): Seq[(String, Double, Mutator)] = Seq(
    ("given_name", 0.3, Mutators.WithGroup(Seq(
      (0.25, Mutators.WithInsert(seed = sd("m.ins")): Mutator),
      (0.25, Mutators.WithDelete(sd("m.del"))),
      (0.25, Mutators.WithTranspose(sd("m.trans"))),
      (0.25, Mutators.WithSubstitute("0123456789", sd("m.sub")))), sd("m.group"))),
    ("last_name", 0.2, RuleMutators.WithCldrKeymap(keymap, sd("m.cldr"))),
    ("birth_date", 0.05, Mutators.WithDatetimeOffset(5, "d", "%Y-%m-%d",
      seed = sd("m.dt"))))

  private def corrupt(ids: DataFrame, sd: Seeds): DataFrame =
    MutateDataFrame(ids, spec(sd).map { case (c, p, m) => (Seq(c), Seq((p, m))) })

  /** Blocking key: birth year and month, from the last token of the full
    * name. Blocks hold ~rows/792 records a side. */
  private def blockOf(n: Column): Column = substring(substring_index(n, " ", -1), 1, 7)

  private def fullName(df: DataFrame): Column =
    concat_ws(" ", col("given_name"), col("last_name"), col("birth_date"))

  def iteration(ctx: Ctx): Map[String, DataFrame] = {
    val sd = ctx.seeds
    val ids = ctx.span("gen.prep")(identities(ctx.spark, sd))
    val dirty = ctx.span("mut.stats")(corrupt(ids, sd))
    val left = ids.select(col(Gecko.RowId).as("a"), fullName(ids).as("name"))
    val right = dirty.select((col(Gecko.RowId) + lit(Offset)).as("b"),
      fullName(dirty).as("rec_name"))
    val pairs = Linkage.blockedLevenshteinJoin(left, "name", right, "rec_name",
      blockOf, maxDist = 2)
    ctx.span("link.join")(ctx.sinks.parquet("link.pairs", pairs, ctx.path("link_pairs"),
      pairColumns))
    val clusters = ctx.span("cluster")(Dedup.clusterPairs(
      ctx.spark.read.parquet(ctx.path("link_pairs")).select("a", "b")))
    ctx.sinks.parquet("link.clusters", clusters, ctx.path("link_clusters"),
      clusterColumns)
    Map("ids" -> ids, "dirty" -> dirty, "left" -> left, "right" -> right)
  }

  override def probes(ctx: Ctx, f: Map[String, DataFrame]): Map[String, Double] = {
    ctx.span("probe.gen_eval")(ctx.sinks.noop("link.gen", f("ids"), idColumns))
    ctx.span("probe.mut_out")(ctx.sinks.noop("link.mut", f("dirty"), idColumns))
    // attempted verifications: every same-block (left, right) pair
    val candidates = ctx.span("probe.link_candidates") {
      def blocks(df: DataFrame, c: String, n: String) =
        df.groupBy(blockOf(col(c)).as("blk")).agg(count(lit(1)).as(n))
      blocks(f("left"), "name", "nl").join(blocks(f("right"), "rec_name", "nr"), "blk")
        .agg(sum(col("nl") * col("nr"))).head().getLong(0).toDouble
    }
    val matches = ctx.spark.read.parquet(ctx.path("link_pairs")).count().toDouble
    Map("link.candidates" -> candidates, "link.matches" -> matches)
  }

  /** Pairwise cluster scores: (true cross pairs, all cross pairs). */
  private def score(ctx: Ctx): (Long, Long) = {
    val cl = ctx.spark.read.parquet(ctx.path("link_clusters"))
    val right = (col("doc_id") >= lit(Offset)).cast("long")
    val cross = cl.groupBy("cluster_id")
      .agg(sum(lit(1L) - right).as("nl"), sum(right).as("nr"))
      .agg(sum(col("nl") * col("nr"))).head()
    val correct = cl
      .groupBy(col("cluster_id"), (col("doc_id") % lit(Offset)).as("base"))
      .agg(countDistinct(right).as("sides"))
      .filter(col("sides") === 2).count()
    (correct, if (cross.isNullAt(0)) 0L else cross.getLong(0))
  }

  def verify(ctx: Ctx, pinned: Pinned): Verified = {
    val sd = ctx.seeds
    val ids = identities(ctx.spark, sd)
    val dirty = corrupt(ids, sd)
    val rates = PRate.measure(ids, dirty, Gecko.RowId,
      spec(sd).map { case (c, p, m) => (m.name, c, p) })
    val (pc, pMax) = Workloads.pChecks(rates)
    val (correct, cross) = score(ctx)
    val recall = correct.toDouble / rows
    val precision = if (cross == 0) 0.0 else correct.toDouble / cross
    val scoreCheck = pinned.link(ctx.seeds.seed) match {
      case Some((c, x)) => Check("link.scores_pinned", c == correct && x == cross,
        s"correct=$correct cross=$cross, pinned correct=$c cross=$x")
      case None => Check("link.scores_floor", recall >= 0.85 && precision >= 0.85,
        f"no pinned scores for this seed; recall $recall%.4f precision $precision%.4f " +
          "must both be >= 0.85")
    }
    Verified(Seq(Workloads.rowCount("identities", ids, rows),
      Workloads.rowCount("corrupted", dirty, rows), scoreCheck) ++ pc,
      Map("p_abs_err_max" -> pMax, "link.recall" -> recall,
        "link.precision" -> precision),
      Map("correct" -> correct.toString, "cross" -> cross.toString))
  }
}

// ---------------------------------------------------------------------------
/** Dedup d02/d06/d13, Similarity s04 and TextAnalysis t11/t19/t41 over a
  * corpus the benchmark builds for the seed. */
final class TextCuration(seeds: Seeds) extends Workload {
  val name = "text_curation"
  private val BaseDocs = 500L
  private val Copies = 2
  private val Vectors = 1000L
  val rows: Long = BaseDocs * Copies
  /** Copy c of a document gets id doc_id + c * Stride, far above the ids
    * the dedup queries plant at query time. */
  private val Stride = 10000000L
  private val PerturbP = 0.1

  /** (op, span, query, the columns its result has). */
  val ops: Seq[(String, String, (SparkSession, String) => DataFrame, Seq[String])] = Seq(
    ("d02", "dedup.minhash_lsh", Dedup.dedupMinhashLsh, Seq("a", "b", "est_jaccard")),
    ("d06", "dedup.clusters", Dedup.dedupClusters, Seq("doc_id", "cluster_id", "keep")),
    ("d13", "dedup.containment", Dedup.containmentDedup,
      Seq("a", "b", "shared_grams", "ng_a", "ng_b", "containment_ppm")),
    ("s04", "sim.ann_ivf", Similarity.annIvf, Seq("query_id", "neighbor_id", "rank")),
    ("t11", "text.tfidf", TextAnalysis.tfidf,
      Seq("doc_id", "rank", "token", "tf", "df", "score_milli")),
    ("t19", "text.bm25_topk", TextAnalysis.bm25TopK,
      Seq("doc_id", "score_micro", "n_terms_hit")),
    ("t41", "text.lm_perplexity", TextAnalysis.lmPerplexity,
      Seq("lang", "n_docs", "n_bigrams", "vocab", "mean_h_bits", "max_h_bits")))

  private def corpus(ctx: Ctx): String = ctx.path("corpus")

  private def perturber(copy: Int): Mutator = Mutators.WithGroup(Seq(
    (0.5, Mutators.WithDelete(seeds(s"text.m.del.$copy")): Mutator),
    (0.5, Mutators.WithSubstitute("0123456789", seeds(s"text.m.sub.$copy")))),
    seeds(s"text.m.group.$copy"))

  private def baseDocs(s: SparkSession): DataFrame = {
    val vocab = TextCuration.Vocabulary.map(w => s"'$w'").mkString("array(", ",", ")")
    s.range(BaseDocs).select(col("id").as("doc_id"),
      expr(s"concat_ws(' ', transform(sequence(1, 4 + cast(pmod(xxhash64(id, " +
        s"${seeds("text.len")}L), 93) as int)), i -> element_at($vocab, 1 + " +
        s"cast(pmod(xxhash64(id, i, ${seeds("text.word")}L), 30) as int))))").as("text"),
      expr(s"element_at(array('de','en','es','fr','zh'), 1 + " +
        s"cast(pmod(xxhash64(id, ${seeds("text.lang")}L), 5) as int))").as("lang"),
      expr(s"concat('src', cast(pmod(xxhash64(id, ${seeds("text.src")}L), 20) as string))")
        .as("source"))
  }

  /** Copy 0 verbatim; every later copy perturbed by a seeded Layer A
    * mutator, so each copy is a near-duplicate population. */
  private def copy(s: SparkSession, c: Int): DataFrame = {
    val shifted = baseDocs(s).withColumn("doc_id", col("doc_id") + lit(c * Stride))
    if (c == 0) shifted
    else MutateDataFrame(shifted, Seq((Seq("text"), Seq((PerturbP, perturber(c))))),
      ridCol = "doc_id")
  }

  override def prepare(ctx: Ctx): Unit = {
    val s = ctx.spark
    (0 until Copies).map(copy(s, _)).reduce(_.unionAll(_))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${corpus(ctx)}/documents.parquet")
    val cs = seeds("text.centers")
    val ns = seeds("text.noise")
    s.range(Vectors).select(col("id").as("vec_id"),
      expr(s"cast(pmod(xxhash64(id, ${seeds("text.label")}L), 10) as int)").as("label"))
      .select(col("vec_id"), col("label"), expr(
        s"transform(sequence(0, 63), j -> (pmod(xxhash64(label, j, ${cs}L), 2001) - 1000) " +
          s"/ 1000.0 + 0.35 * (pmod(xxhash64(vec_id, j, ${ns}L), 2001) - 1000) / 1000.0)")
        .as("raw"))
      .select(col("vec_id"), expr("transform(raw, x -> cast(x / " +
        "sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float))").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"${corpus(ctx)}/embeddings.parquet")
  }

  def iteration(ctx: Ctx): Map[String, DataFrame] = {
    ops.foreach { case (op, span, fn, columns) =>
      ctx.span(span) {
        ctx.sinks.parquet(s"text.$op", fn(ctx.spark, corpus(ctx)), ctx.path(s"text_$op"),
          columns)
      }
    }
    Map.empty
  }

  def verify(ctx: Ctx, pinned: Pinned): Verified = {
    val s = ctx.spark
    val docs = s.read.parquet(s"${corpus(ctx)}/documents.parquet")
    val base = docs.filter(col("doc_id") < Stride).select("doc_id", "text")
    val rates = (1 until Copies).flatMap { c =>
      val dirty = docs.filter(col("doc_id") >= c * Stride && col("doc_id") < (c + 1) * Stride)
        .select((col("doc_id") - lit(c * Stride)).as("doc_id"), col("text"))
      PRate.measure(base, dirty, "doc_id", Seq((perturber(c).name, "text", PerturbP)))
        .map(_.copy(column = s"text.copy$c"))
    }
    val (pc, pMax) = Workloads.pChecks(rates)
    val digests = ops.map { case (op, _, _, _) =>
      op -> Digest.of(s.read.parquet(ctx.path(s"text_$op")))
    }
    val digestChecks = digests.map { case (op, d) =>
      pinned.digest(ctx.seeds.seed, op) match {
        case Some(want) => Check(s"digest.$op", d == want, s"digest $d, pinned $want")
        case None => Check(s"digest.$op", ok = true,
          s"digest $d; no pinned reference for this seed")
      }
    }
    Verified(Workloads.rowCount("documents", docs, rows) +: (pc ++ digestChecks),
      Map("p_abs_err_max" -> pMax),
      digests.map { case (op, d) => op -> d.toString }.toMap)
  }
}

object TextCuration {
  /** The 30-word vocabulary of the repo's generated `documents` table,
    * which the text queries' fixed term lists (t19's query terms) draw
    * from; the seed picks every word position. */
  val Vocabulary: Seq[String] = Seq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
}
