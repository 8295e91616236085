package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.{BooleanType, IntegerType}

import graft.functions._

/** The engine's whole SQL function surface as one list of
  * `(FunctionIdentifier, ExpressionInfo, builder)`: the native Catalyst
  * expressions, the ksqlDB compat pack ([[KsqlCompat]]) and the
  * Aggregator-backed aggregates.
  *
  *  - [[GraftExtensions]] injects it into every session built with the
  *    extension;
  *  - [[GraftSql.registerFunctions]] installs it on a session built
  *    without;
  *  - `SHOW FUNCTIONS`, `DESCRIBE FUNCTION`, the ksql dialect's
  *    function renames (every `ksql_` twin) and the rowtime propagation
  *    of [[ConnectorDdl]] read it.
  *
  * Each entry's `ExpressionInfo` carries its usage and its group
  * (`agg_funcs` for an aggregate, empty for a scalar). */
object FunctionTable {

  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  val AggGroup = "agg_funcs"

  lazy val entries: Seq[Entry] =
    natives ++
      KsqlCompat.builders.map { case (n, b) =>
        entry(n, KsqlCompat.getClass.getName, aggregate = false)(b) } ++
      KsqlCompat.aggregates.map { case (n, b) =>
        entry(n, KsqlCompat.getClass.getName, aggregate = true)(b) } ++
      aggregators

  /** Every builder validates its arity with a message that embeds its
    * usage ("expected <usage>, got N argument(s)"), so probing it with
    * no arguments recovers the usage without a second, hand-kept list. */
  private def entry(name: String, className: String, aggregate: Boolean)(
      builder: FunctionBuilder): Entry = {
    val usage =
      try { builder(Seq.empty); s"$name(...)" }
      catch {
        case e: Exception =>
          "expected (.*), got".r
            .findFirstMatchIn(Option(e.getMessage).getOrElse(""))
            .map(_.group(1)).getOrElse(s"$name(...)")
      }
    (FunctionIdentifier(name),
      new ExpressionInfo(className, null, name, usage, "", "", "",
        if (aggregate) AggGroup else "", "", "", "scala_udf"),
      builder)
  }

  /** Arity gate: SQL calls with the wrong argument count get an
    * analysis-style error naming the function and its signature, not a
    * raw IndexOutOfBoundsException from the builder. */
  private def arity(name: String, usage: String, exprs: Seq[Expression],
                    min: Int, max: Int): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name: expected " +
          s"$usage, got ${exprs.length} argument(s)")

  /** Shingle width: optional trailing positive integer literal, default 5. */
  private def widthArg(name: String, exprs: Seq[Expression]): Int =
    exprs.lift(1) match {
      case None => 5
      case Some(Literal(w: Int, IntegerType)) if w > 0 => w
      case Some(Literal(w: Int, IntegerType)) => throw new IllegalArgumentException(
        s"$name: shingle width must be positive, got $w")
      case Some(other) => throw new IllegalArgumentException(
        s"$name: shingle width must be an integer literal, got $other")
    }

  private def native(name: String, className: String, usage: String,
                     min: Int, max: Int, aggregate: Boolean = false)(
      build: Seq[Expression] => Expression): Entry =
    entry(name, className, aggregate) { exprs =>
      arity(name, usage, exprs, min, max)
      build(exprs)
    }

  private lazy val natives: Seq[Entry] = Seq(
    // Spark's runtime-filter bloom expressions, made SQL/DSL-reachable:
    // the engine's scan-pruning primitive for "is this key possibly in
    // that (much larger than broadcast-join-able, much smaller than
    // shuffle-everything) set" — e.g. benchmark-contamination checks.
    // Inputs are xxhash64 longs, as in Spark's own InjectRuntimeFilter.
    native("bloom_filter_agg", classOf[BloomFilterAggregate].getName,
      "bloom_filter_agg(xxhash64_col[, est_items[, num_bits]])", 1, 3,
      aggregate = true) {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    },
    native("might_contain", classOf[BloomFilterMightContain].getName,
      "might_contain(bloom, xxhash64_value)", 2, 2) { exprs =>
      BloomFilterMightContain(exprs(0), exprs(1))
    },
    native("cosine_sim", classOf[CosineSimilarity].getName,
      "cosine_sim(vec1, vec2)", 2, 2) { exprs =>
      CosineSimilarity(exprs(0), exprs(1))
    },
    native("hashed_shingles", classOf[HashedShingles].getName,
      "hashed_shingles(tokens[, width])", 1, 2) { exprs =>
      HashedShingles(exprs.head, widthArg("hashed_shingles", exprs))
    },
    native("minhash_slices", classOf[MinHashSlices].getName,
      "minhash_slices(tokens[, width])", 1, 2) { exprs =>
      MinHashSlices(exprs.head, widthArg("minhash_slices", exprs))
    },
    native("shingle_hash_seq", classOf[ShingleHashSeq].getName,
      "shingle_hash_seq(tokens[, width])", 1, 2) { exprs =>
      ShingleHashSeq(exprs.head, widthArg("shingle_hash_seq", exprs))
    },
    native("simhash16", classOf[SimHash16].getName,
      "simhash16(tokens)", 1, 1) { exprs => SimHash16(exprs.head) },
    native("simhash64", classOf[SimHash64].getName,
      "simhash64(tokens)", 1, 1) { exprs => SimHash64(exprs.head) })

  /** A typed Aggregator as a SQL aggregate. `udf` is built once per
    * JVM (deriving its encoders is the costly part); a fixed-arity
    * aggregate carries its SQL name, as `spark.udf.register` would
    * give it, so unaliased output columns are named after it. */
  private def aggregator(name: String, className: String, usage: String,
                         argc: Int)(udf: => UserDefinedFunction): Entry = {
    lazy val named = udf.withName(name)
    entry(name, className, aggregate = true) { exprs =>
      arity(name, usage, exprs, argc, argc)
      GraftBridge.scalaAggregator(named, exprs)
    }
  }

  /** The (offset, value[, ignoreNulls]) families: the optional third
    * argument must be a BOOLEAN LITERAL — it selects the Aggregator
    * instance at plan time (ksqlDB's signature is the same, a
    * compile-time flag), default false to keep the tombstone-keeping
    * 2-arg behavior. One instance per flag value, built on first use. */
  private def offsetAggregator(name: String, className: String)(
      udf: Boolean => UserDefinedFunction): Entry = {
    lazy val byFlag = Map(false -> udf(false), true -> udf(true))
    val usage = s"$name(offset, value[, ignoreNulls])"
    entry(name, className, aggregate = true) { exprs =>
      arity(name, usage, exprs, 2, 3)
      val ignoreNulls = exprs.lift(2) match {
        case None => false
        case Some(Literal(b: Boolean, BooleanType)) => b
        case Some(other) => throw new IllegalArgumentException(
          s"$name: ignoreNulls must be a boolean literal, got $other")
      }
      GraftBridge.scalaAggregator(byFlag(ignoreNulls), exprs.take(2))
    }
  }

  private lazy val aggregators: Seq[Entry] = Seq(
    // ksqlDB 0.28's optional-boolean form is callable:
    //   latest_by_offset(offset, value)               -- keep nulls
    //   latest_by_offset(offset, value, ignoreNulls)  -- boolean literal
    offsetAggregator("latest_by_offset", classOf[LatestByOffsetAgg].getName)(
      n => udaf(new LatestByOffsetAgg(earliest = false, n))),
    offsetAggregator("earliest_by_offset", classOf[LatestByOffsetAgg].getName)(
      n => udaf(new LatestByOffsetAgg(earliest = true, n))),
    // the k-bounded family, k in the name: the bounded-state spelling a
    // STREAMING SQL caller should reach for (the ksql-layer rewrite of
    // literal-N forms uses collect_list, whose state is the full key
    // history)
    offsetAggregator("latest_3_by_offset", classOf[LatestKByOffsetAgg].getName)(
      n => udaf(new LatestKByOffsetAgg(3, earliest = false, n))),
    offsetAggregator("earliest_3_by_offset", classOf[LatestKByOffsetAgg].getName)(
      n => udaf(new LatestKByOffsetAgg(3, earliest = true, n))),
    // ksql HISTOGRAM: map value→count, 1000-key cap as in ksqlDB
    aggregator("histogram", classOf[HistogramAgg].getName,
      "histogram(value)", 1)(udaf(new HistogramAgg)),
    aggregator("topk_by_score_3", classOf[TopKByScore].getName,
      "topk_by_score_3(score, id)", 2)(
      graft.operators.Relational.topKAggregator(3, longScores = false)),
    // mergeable deterministic quantile sketch (decimal grid): build
    // from grid integers / union-merge stored sketches — see
    // DecimalSketch for the grid contract
    aggregator("decimal_sketch", classOf[DecimalSketchAgg].getName,
      "decimal_sketch(grid_value)", 1)(udaf(new DecimalSketchAgg)),
    aggregator("decimal_sketch_merge", classOf[DecimalSketchMergeAgg].getName,
      "decimal_sketch_merge(sketch)", 1)(udaf(new DecimalSketchMergeAgg)),
    aggregator("decimal_sketch_weighted",
      classOf[DecimalSketchWeightedAgg].getName,
      "decimal_sketch_weighted(grid_value, weight)", 2)(
      udaf(new DecimalSketchWeightedAgg)),
    // KMV distinct-count sketch over md5-u32 hash longs; the set algebra
    // (union / Jaccard / estimate) is plain array SQL over the sketch
    // column — see KmvSketch for the integer estimator contract
    aggregator("kmv_sketch_256", classOf[KmvSketchAgg].getName,
      "kmv_sketch_256(hash)", 1)(udaf(new KmvSketchAgg(256))),
    // Misra-Gries heavy-hitter sketch: a <=64-counter map<term,count>
    // summary; merge stored sketches with the _merge form. Estimates
    // are bounds — see MgSketch for the candidates-then-exact protocol
    aggregator("mg_sketch_64", classOf[MgSketchAgg].getName,
      "mg_sketch_64(term)", 1)(udaf(new MgSketchAgg(64))),
    aggregator("mg_sketch_merge_64", classOf[MgSketchMergeAgg].getName,
      "mg_sketch_merge_64(sketch)", 1)(udaf(new MgSketchMergeAgg(64))))
}
