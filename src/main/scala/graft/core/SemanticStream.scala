package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A stream element: `value` plus the reference's logical index
  * (`function.h:11`), and a hidden arrival-order key.
  *
  * The reference's push-based generators give every operator an implicit
  * *emission order* that is distinct from the user-visible index: `filter`
  * renumbers survivors by an arrival counter (semantic.h:1204-1209) even
  * after `reverse`/`translate` have remapped the visible indices. To be
  * faithful under Spark's unordered execution we carry both:
  *
  *   - `ord`  — arrival order. Strictly increasing along emission order,
  *     values are meaningless (may be sparse); only ever used as a sort key.
  *     INVARIANT: ord is never negative — every producer (rank paths,
  *     zipWithIndex, literal construction) assigns 0-based counters, and
  *     no operator shifts ord (reverse/translate act on idx only). The
  *     ord-prefix probes (findFirst, takeWhileProbed,
  *     collectWithInterrupt) are only sound under this invariant: they
  *     declare a hit in [0, w) globally first because no smaller ord can
  *     exist outside the window.
  *   - `idx`  — the user-visible index (`Timestamp`), observable by
  *     index-aware lambdas and wrapped mod-n at ordered materialization
  *     (semantic.h:492-504).
  */
case class Elem[E](ord: Long, idx: Long, value: E)

/** How the stored `idx` column relates to the user-visible index. */
sealed trait IndexState
object IndexState {
  /** idx == ord == 0..n-1 in emission order (freshly renumbered). */
  case object Contiguous extends IndexState
  /** A renumbering op (filter/distinct/dropWhile) is pending: the visible
    * index is rank-of-`ord`; the stored idx column is stale. Deferring the
    * global rank keeps chains of filters shuffle-free. */
  case object RankPending extends IndexState
  /** idx is authoritative but arbitrary (after translate/reverse/skip/sub):
    * possibly negative, out of range, or colliding; wrap applies at
    * ordered materialization. */
  case object Raw extends IndexState
}

/** Lazy indexed stream — the Spark-native counterpart of the reference's
  * `semantic::Semantic<E>` pipeline (`semantic.h:980-1591`).
  *
  * Design (SURVEY.md §7.1):
  *   - wraps a `Dataset[Elem[E]]`; intermediate ops extend the Catalyst
  *     plan — the reference's closure-composition fusion is whole-stage
  *     codegen here, for free;
  *   - renumbering (the arrival-counter semantics above) is deferred via
  *     [[IndexState.RankPending]] and executed as a fully distributed
  *     two-shuffle rank (see [[IndexOps.renumberBy]]) — never a
  *     single-partition global window;
  *   - the reference's `.parallel(n)` (replicated scan over a thread pool,
  *     collector.h:96-121) maps to `repartition(n)`: Spark partitioning is
  *     strictly better, so `parallel` is a partitioning hint only.
  */
final class SemanticStream[E](
    val ds: Dataset[Elem[E]],
    val state: IndexState,
    val ordBound: Long = Long.MaxValue) extends Serializable {

  import IndexState._

  def spark: SparkSession = ds.sparkSession
  implicit private def enc: Encoder[Elem[E]] = ds.encoder
  private def wrap(df: DataFrame, st: IndexState,
                   bound: Long = ordBound): SemanticStream[E] =
    new SemanticStream(df.as[Elem[E]], st, bound)

  /** Stream with the user-visible index materialized in `idx`. */
  def resolved: SemanticStream[E] = state match {
    case RankPending =>
      wrap(IndexOps.rankByOrd(ds.toDF()), Contiguous)
    case _ => this
  }

  // ---- intermediate ops (SURVEY.md §2.2) --------------------------------

  /** 1:1 transform, index preserved (semantic.h:1376-1395). */
  def map[R](f: E => R)(implicit encR: Encoder[Elem[R]]): SemanticStream[R] =
    new SemanticStream(ds.map(e => Elem(e.ord, e.idx, f(e.value))), state, ordBound)

  /** Index-aware mapper — the reference's arity-adaptive `map(f(E,Timestamp))`
    * (semantic.h:1342-1357). Observes the visible index. */
  def mapIndexed[R](f: (E, Long) => R)(implicit encR: Encoder[Elem[R]]): SemanticStream[R] = {
    val r = resolved
    new SemanticStream(r.ds.map(e => Elem(e.ord, e.idx, f(e.value, e.idx))), r.state, r.ordBound)
  }

  /** Column-expression map for Catalyst-visible transforms: `f` rewrites
    * the `value` column. Prefer over [[map]] in hot paths (codegen'd). */
  def mapColumn[R](f: Column => Column)(implicit encR: Encoder[Elem[R]]): SemanticStream[R] =
    new SemanticStream(
      ds.toDF().withColumn("value", f(col("value"))).as[Elem[R]], state, ordBound)

  /** Keep matching elements; survivors renumbered by arrival counter
    * (semantic.h:1197-1216) — deferred as RankPending. */
  def filter(p: E => Boolean): SemanticStream[E] =
    wrap(ds.filter((e: Elem[E]) => p(e.value)).toDF(), RankPending)

  /** Column-predicate filter (pushdown-friendly). */
  def filterColumn(p: Column => Column): SemanticStream[E] =
    wrap(ds.toDF().filter(p(col("value"))), RankPending)

  /** Side-effect observer; stream unchanged (semantic.h:1407-1431).
    * The consumer runs on executors. */
  def peek(consumer: E => Unit): SemanticStream[E] =
    new SemanticStream(ds.map { e => consumer(e.value); e }, state, ordBound)

  /** First n by arrival, indices renumbered to the arrival counter
    * (semantic.h:1359-1374: `accept(element, count)`). */
  def limit(n: Long): SemanticStream[E] = {
    val r = resolvedRanks
    wrap(r.ds.toDF().filter(col("idx") < n), Contiguous)
  }

  /** Drop first n; survivors keep arrival counters n, n+1, … as indices
    * (semantic.h:1463-1481). */
  def skip(n: Long): SemanticStream[E] = {
    val r = resolvedRanks
    wrap(r.ds.toDF().filter(col("idx") >= n), Raw)
  }

  /** Arrival positions in [start,end), renumbered to those positions
    * (semantic.h:1512-1530). */
  def sub(start: Long, end: Long): SemanticStream[E] = {
    val r = resolvedRanks
    wrap(r.ds.toDF().filter(col("idx") >= start && col("idx") < end), Raw)
  }

  /** Stream with idx := arrival rank — what limit/skip/sub consume; their
    * renumber-to-counter semantics overwrite even Raw indices. */
  private def resolvedRanks: SemanticStream[E] = state match {
    case Contiguous => this
    case _ => wrap(IndexOps.rankByOrd(ds.toDF()), Contiguous)
  }

  /** Add a constant to every visible index (semantic.h:1577-1590). */
  def translate(offset: Long): SemanticStream[E] = {
    val r = resolved
    wrap(r.ds.toDF().withColumn("idx", col("idx") + offset),
      if (offset == 0L) r.state else Raw)
  }

  /** Negate indices (semantic.h:1448-1461); meaning crystallizes at ordered
    * materialization via the mod-n wrap: element 0 stays first, the rest
    * reverse. */
  def reverse: SemanticStream[E] = {
    val r = resolved
    wrap(r.ds.toDF().withColumn("idx", -col("idx")), Raw)
  }

  /** Rewrite each element as f(element, index); index unchanged
    * (semantic.h:1433-1446 — despite the README calling it an index remap). */
  def redirect(f: (E, Long) => E): SemanticStream[E] = {
    val r = resolved
    new SemanticStream(r.ds.map(e => Elem(e.ord, e.idx, f(e.value, e.idx))), r.state, r.ordBound)
  }

  /** UNION ALL preserving order, renumbered continuously
    * (semantic.h:1012-1120). Lazy: order key is (source ordinal, ord). */
  def concatenate(other: SemanticStream[E]): SemanticStream[E] = {
    // Contiguous ⊕ Contiguous needs NO rank at all (r20): both sides are
    // idx == ord == 0..n-1 by the state invariant, so the left's indices
    // are already final and the right's shift by exactly count(left) —
    // computed INSIDE the union job as a broadcast 1-row aggregate (the
    // takeWhile boundary shape: no extra driver job, and the old path's
    // combined bucket rank re-scanned the left side for its bucket
    // counts anyway). Replaces a 2-window + 2-aggregate rank sub-DAG
    // with one count branch and a projection (q10: 20 → 13 stages,
    // plans/r20/q10_concat_*).
    if (state == Contiguous && other.state == Contiguous) {
      val na = ds.toDF().agg(count(lit(1)).cast("long").as("__na"))
      val shifted = other.ds.toDF().join(broadcast(na))
        .select((col("ord") + col("__na")).as("ord"),
          (col("idx") + col("__na")).as("idx"), col("value"))
      val u = ds.toDF().select(col("ord"), col("idx"), col("value"))
        .unionByName(shifted)
      val newBound =
        if (ordBound != Long.MaxValue && other.ordBound != Long.MaxValue &&
          ordBound + other.ordBound > 0) ordBound + other.ordBound
        else Long.MaxValue
      return wrap(u, Contiguous, newBound)
    }
    val a = ds.toDF().withColumn("__src", lit(0))
    val b = other.ds.toDF().withColumn("__src", lit(1))
    val u = a.unionByName(b)
    // ords are nonnegative ranks < ordBound by invariant, so with known
    // bounds the (src, ord) order linearizes into ONE unique numeric key
    // and ranking stays on the Catalyst-only bucket path (no RDD hop)
    val boundsKnown = ordBound != Long.MaxValue &&
      other.ordBound != Long.MaxValue &&
      ordBound + other.ordBound > 0
    val renum =
      if (boundsKnown) {
        val key = when(col("__src") === 0, col("ord"))
          .otherwise(lit(ordBound) + col("ord"))
        IndexOps.renumberByUniqueKey(u, key)
      } else
        // unknown bounds: no single linear key exists, but the grouped
        // bucket rank (per-source equal-width ord sub-buckets) keeps the
        // whole rank Catalyst-only — no RDD hop here either
        IndexOps.rankGroupedPrefix(u, col("__src"), col("ord"),
          Seq(col("__src").asc, col("ord").asc), renumberIdx = true)
    val newBound =
      if (boundsKnown) ordBound + other.ordBound else Long.MaxValue
    wrap(renum.drop("__src"), Contiguous, newBound)
  }

  /** Append a single element (semantic.h:1043-1067 overload). */
  def concatenate(single: E): SemanticStream[E] = {
    val one = ds.sparkSession.createDataset(Seq(Elem(0L, 0L, single)))(ds.encoder)
    concatenate(new SemanticStream(one, Contiguous, 1L))
  }

  /** Append any local container (semantic.h:1069-1120 overload). */
  def concatenateAll(elems: Iterable[E]): SemanticStream[E] = {
    val more = elems.iterator.zipWithIndex
      .map { case (e, i) => Elem(i.toLong, i.toLong, e) }.toSeq
    concatenate(new SemanticStream(
      ds.sparkSession.createDataset(more)(ds.encoder), Contiguous, more.size.toLong))
  }

  /** Keep first occurrence per value in arrival order (semantic.h:1122-1164),
    * then renumber (deferred). One shuffle (partial min_by per partition). */
  def distinct: SemanticStream[E] = {
    val df = ds.toDF()
      .groupBy(col("value"))
      .agg(min(col("ord")).as("ord"), min_by(col("idx"), col("ord")).as("idx"))
      .select(col("ord"), col("idx"), col("value"))
    wrap(df, RankPending)
  }

  /** distinct by derived key (the comparator overload, semantic.h:1144-1164):
    * min-ord element per key. Map-side partial reduce, one shuffle. */
  def distinctBy[K](key: E => K)(implicit encK: Encoder[K]): SemanticStream[E] = {
    val firsts = ds.groupByKey(e => key(e.value))
      .reduceGroups((a: Elem[E], b: Elem[E]) => if (a.ord <= b.ord) a else b)
      .map(_._2)(ds.encoder)
    new SemanticStream(firsts, RankPending, ordBound)
  }

  /** Emit until first predicate failure in arrival order; indices unchanged
    * (semantic.h:1532-1554). The boundary aggregate is broadcast — no
    * collect(), no single-partition stage. */
  def takeWhile(p: Column => Column): SemanticStream[E] = {
    val df = ds.toDF()
    val boundary = df.filter(!p(col("value")))
      .agg(coalesce(min(col("ord")), lit(Long.MaxValue)).as("__b"))
    wrap(df.join(broadcast(boundary)).filter(col("ord") < col("__b")).drop("__b"), state)
  }

  /** [[takeWhile]] with short-circuit: probes exponentially growing
    * arrival-order windows and stops at the first window containing a
    * failure — the Spark rendering of the reference's `interrupt`
    * early-out (collector.h:34, semantic.h:1544-1551). When the source is
    * idx-sorted parquet, each probe prunes to row groups below the
    * horizon, so a failure near the head touches a prefix of a 100 TB
    * stream instead of all of it. Falls back to the full-scan semantics
    * (identical results) when the failure is late or absent. */
  def takeWhileProbed(p: Column => Column, initialWindow: Long = 1L << 16): SemanticStream[E] = {
    require(initialWindow > 0)
    val df = ds.toDF()
    var lo = 0L
    var w = initialWindow
    var boundary = -1L
    var exhausted = false
    while (boundary < 0 && !exhausted) {
      val probe = df.filter(col("ord") >= lo && col("ord") < lo + w)
        .agg(min(when(!p(col("value")), col("ord"))).as("b"),
          count(lit(1)).as("n")).collect()(0)
      if (!probe.isNullAt(0)) boundary = probe.getLong(0)
      else if (probe.getLong(1) == 0L) {
        // sparse ords: jump to the next populated ord, or finish
        val nxt = df.filter(col("ord") >= lo + w)
          .agg(min(col("ord")).as("m")).collect()(0)
        if (nxt.isNullAt(0)) exhausted = true else lo = nxt.getLong(0)
      } else { lo += w; w *= 4 }
    }
    if (exhausted) this
    else wrap(df.filter(col("ord") < boundary), state)
  }

  /** Skip leading matches, emit the rest renumbered from 0
    * (semantic.h:1166-1195). */
  def dropWhile(p: Column => Column): SemanticStream[E] = {
    val df = ds.toDF()
    val boundary = df.filter(!p(col("value")))
      .agg(coalesce(min(col("ord")), lit(Long.MaxValue)).as("__b"))
    wrap(df.join(broadcast(boundary)).filter(col("ord") >= col("__b")).drop("__b"), RankPending)
  }

  /** Map to many, flatten, continuous renumbering (semantic.h:1276-1335).
    * For array columns prefer [[explodeColumn]] (fully Catalyst-native). */
  def flatMap[R](f: E => IterableOnce[R])(implicit encR: Encoder[R], encER: Encoder[Elem[R]]): SemanticStream[R] = {
    implicit val tupEnc: Encoder[(Long, Long, R)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, encR)
    val exploded = ds.flatMap { e =>
      f(e.value).iterator.zipWithIndex.map { case (r, p) => (e.ord, p.toLong, r) }
    }
    // (__oord, __pos) is a total order with a numeric lead → bucket rank
    val df = IndexOps.rankNumericPrefix(
      exploded.toDF("__oord", "__pos", "value"),
      col("__oord"), Seq(col("__oord"), col("__pos")),
      renumberIdx = true).drop("__oord", "__pos")
    new SemanticStream(df.as[Elem[R]], IndexState.Contiguous)
  }

  /** `flat()` over an array-typed value column (semantic.h:1244-1274):
    * flattened in order, continuous renumbering, empties dropped. */
  def explodeColumn[R](f: Column => Column)(implicit encR: Encoder[Elem[R]]): SemanticStream[R] = {
    val df = ds.toDF()
      .select(col("ord").as("__oord"), posexplode(f(col("value"))).as(Seq("__pos", "value")))
    val out = IndexOps.rankNumericPrefix(df, col("__oord"),
      Seq(col("__oord"), col("__pos")), renumberIdx = true)
      .drop("__oord", "__pos")
    new SemanticStream(out.as[Elem[R]], IndexState.Contiguous)
  }

  /** Value-sort, stable on the visible index (semantic.h:1483-1503,
    * 477-490), renumbered 0..n-1. Value column must be Catalyst-orderable. */
  def sorted: SemanticStream[E] = sortByColumn(identity)

  /** Distributed stable value sort by column expression. The bucket-rank
    * path needs a numeric LEAD that is monotone in the sort order — the
    * full order still resolves inside each bucket, so the lead only has
    * to be a coarsening, never a total order:
    *
    *   - numeric keys bucket on the key itself;
    *   - STRING/BINARY keys on an order-preserving projection of their
    *     first 7 bytes (Spark's string order IS UTF8 binary order);
    *   - date/timestamp/boolean on their numeric cast;
    *   - STRUCT keys on the projection of their LEADING FIELD (struct
    *     order compares field by field, so any coarsening of the first
    *     field coarsens the struct order), recursively;
    *   - ARRAY keys on the projection of their first element (array
    *     order is lexicographic; empty arrays project to null → the
    *     dedicated null bucket, which sorts first asc / last desc
    *     exactly like [] does among arrays).
    *
    * Only keys whose every leading component is itself unprojectable
    * (e.g. map-typed) fall back to the zipWithIndex rank. */
  def sortByColumn(key: Column => Column, ascending: Boolean = true): SemanticStream[E] = {
    val r = resolved
    val lead = key(col("value"))
    val k = if (ascending) lead.asc else lead.desc
    val dt = r.ds.toDF().select(lead).schema.head.dataType
    val df = SemanticStream.numericLeadOf(dt, lead) match {
      case Some(ln) =>
        IndexOps.rankNumericPrefix(r.ds.toDF(), ln, Seq(k, col("idx").asc),
          renumberIdx = true, ascending = ascending)
      case None => IndexOps.renumberBy(r.ds.toDF(), Seq(k, col("idx").asc))
    }
    wrap(df, Contiguous)
  }

  /** Partitioning hint — the reference's `.parallel(n)`
    * (semantic.h:1397-1405). */
  def parallel(n: Int): SemanticStream[E] =
    new SemanticStream(ds.repartition(n), state, ordBound)

  /** Ordered materialization (OrderedCollectable, semantic.h:506-517):
    * Raw indices are folded into [0,n) by `((idx % n) + n) % n` — for n<2
    * everything maps to 0 — then laid out by (wrapped idx, arrival) and
    * re-emitted with the wrapped index (duplicates possible, exactly like
    * the reference's multimap). */
  def ordered: SemanticStream[E] = state match {
    case Contiguous => this
    case RankPending => resolved
    case Raw =>
      val df = ds.toDF()
      val n = df.agg(count(lit(1)).as("__n"))
      val wrapped = df.join(broadcast(n))
        .withColumn("idx",
          when(col("__n") < 2, lit(0L))
            .otherwise(((col("idx") % col("__n")) + col("__n")) % col("__n")))
        .drop("__n")
      // wrapped idx < n <= ordBound, so (idx, ord) linearizes into
      // idx*bound + ord when bound² fits a long — Catalyst-only path.
      // For huge/unknown bounds the wrapped idx (∈ [0,n)) is still a
      // numeric lead for the bucket rank — no RDD hop either way.
      val out =
        if (ordBound != Long.MaxValue && ordBound < 3000000000L)
          IndexOps.reorderKeepIdxUnique(wrapped,
            col("idx") * ordBound + col("ord"))
        else
          IndexOps.rankNumericPrefix(wrapped, col("idx"),
            Seq(col("idx"), col("ord")), renumberIdx = false)
      wrap(out, Raw)
  }

  /** Underlying DataFrame (ord, idx, value) — escape hatch to column-land. */
  def toDF: DataFrame = ds.toDF()

  // ---- grouping / windows (SURVEY.md §2.3-2.4) --------------------------

  /** Elements of the value column in emission order as one array —
    * shared shape of the grouping collectors below. */
  private def orderedList: Column =
    transform(array_sort(collect_list(struct(col("ord"), col("value")))),
      x => x.getField("value"))

  /** Hash group-by: key → arrival-ordered element list (group,
    * collector.h:1065-1093). One shuffle, map-side partial collect. */
  def group(key: Column => Column): DataFrame =
    ds.toDF().groupBy(key(col("value")).as("key"))
      .agg(orderedList.as("elements"))

  /** group + projected value (groupBy(keyF,valF), collector.h:1095-1130).
    * Both keyF and valF apply to the ORIGINAL element, like the reference. */
  def groupMap(key: Column => Column, value: Column => Column): DataFrame =
    ds.toDF()
      .select(col("ord"), key(col("value")).as("key"),
        value(col("value")).as("value"))
      .groupBy(col("key"))
      .agg(orderedList.as("elements"))

  /** Fixed-size chunks in arrival order (partition(size),
    * collector.h:2098-2136). */
  def partitionChunks(size: Long): DataFrame = {
    val r = resolvedRanks
    r.ds.toDF().groupBy(floor(col("idx") / size).cast("long").as("chunk"))
      .agg(orderedList.as("elements"))
  }

  /** Buckets by a Timestamp-valued key, ascending key order
    * (partitionBy(keyF), collector.h:2138-2203). */
  def partitionByKey(key: Column => Column): DataFrame =
    ds.toDF().groupBy(key(col("value")).cast("long").as("key"))
      .agg(orderedList.as("elements"))
      .orderBy(col("key"))

  /** Sliding windows over the visible index: window w covers
    * [w·step, w·step+size) (WindowCollectable.slide, semantic.h:1595-1643);
    * partial tails included. Each row fans out to ≤ ⌈size/step⌉ windows. */
  def slide(size: Long, step: Long): DataFrame = {
    val r = resolved
    val wMax = floor(col("idx") / step)
    val wMin = greatest(lit(0L), floor((col("idx") - size) / step) + 1)
    r.ds.toDF()
      .select(col("ord"), col("value"),
        explode(sequence(wMin.cast("long"), wMax.cast("long"))).as("win"))
      .groupBy(col("win"))
      .agg(orderedList.as("elements"))
  }

  /** Tumbling windows: slide(size, size) (semantic.h:910-913). */
  def tumble(size: Long): DataFrame = slide(size, size)
}

object SemanticStream {
  import IndexState._

  /** Order-coarsening numeric projection of a sort key, for
    * [[IndexOps.rankNumericPrefix]] bucketing (see [[SemanticStream.sortByColumn]]).
    * Guarantee: a < b under the key's Catalyst ordering ⇒
    * proj(a) <= proj(b) (nulls land in the dedicated null bucket). */
  private[graft] def numericLeadOf(
      dt: org.apache.spark.sql.types.DataType, c: Column): Option[Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => Some(c)
      case StringType =>
        // first 7 bytes as a base-16 number: equal-length hex compares
        // like the bytes, conv() makes it numeric, 56 bits fit a long
        Some(conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 7)), 14, "0"),
          16, 10).cast("long"))
      case BooleanType | TimestampType => Some(c.cast("long"))
      case BinaryType =>
        // binary order is unsigned byte-lexicographic — same construction
        // as strings, minus the UTF-8 encode (already bytes)
        Some(conv(rpad(hex(substring(c, 1, 7)), 14, "0"), 16, 10).cast("long"))
      // date/ntz→bigint casts are illegal in Spark 4; unix_date is the
      // sanctioned day number. For ntz, truncating to the DATE is tz-free
      // and monotone — a day-granular coarsening is all bucketing needs
      // (ntz→timestamp would pivot on the session zone and can invert
      // order across a DST fall-back)
      case DateType => Some(unix_date(c))
      case TimestampNTZType => Some(unix_date(c.cast("date")))
      case st: StructType if st.fields.nonEmpty =>
        numericLeadOf(st.fields.head.dataType, c.getField(st.fields.head.name))
      case ArrayType(et, _) =>
        // get() is 0-based and null-safe out of bounds (element_at would
        // raise under ANSI); [] → null → null bucket, matching []'s rank
        // at either end of the array order
        numericLeadOf(et, get(c, lit(0)))
      case _ => None
    }
  }

  /** Bridge from a table to an indexed stream: assign contiguous indices in
    * the order of the given sort columns. Returns (ord, idx, value) df. */
  def indexedFrom(df: DataFrame, valueCol: Column, order: Seq[Column]): DataFrame =
    IndexOps.renumberBy(df.withColumn("value", valueCol), order)

  /** Bridge from a table whose index order follows a UNIQUE numeric key
    * (a primary key): the rank stays on the Catalyst-only bucket path (no
    * RDD hop, lineage stays AQE-visible), and the stream carries
    * `ordBound = n` so downstream `ordered` / `concatenate` linearize
    * their composite orders into one unique key and stay Catalyst-only
    * too. The count is a metadata-cheap columnar scan, paid once at
    * stream construction. */
  def fromUniqueKey[E](df: DataFrame, valueCol: Column, key: Column,
                       boundHint: Option[Long] = None)
                      (implicit enc: Encoder[Elem[E]]): SemanticStream[E] = {
    // ordBound only needs to be an UPPER bound on n — a caller who knows
    // one (e.g. a filter key ∈ [lo,hi) admits at most hi-lo rows) can
    // skip the count job entirely
    val n = boundHint.getOrElse(df.count())
    val renum = IndexOps.renumberByUniqueKey(df.withColumn("value", valueCol), key)
      .select(col("ord"), col("idx"), col("value"))
    new SemanticStream(renum.as[Elem[E]], Contiguous, math.max(n, 0L))
  }

  /** Bridge for a DENSE 0-based unique key (values are exactly 0..n-1):
    * the rank IS the key, so ord = idx = key with no rank computation at
    * all — and because ord is then a plain scan column, arrival-window
    * probes (takeWhileProbed, findFirst, collectWithInterrupt) reach the
    * source as PushedFilters and prune row groups, which the
    * rank-computed ord of [[fromUniqueKey]] can never do. The CALLER
    * asserts density; use [[fromUniqueKey]] when only uniqueness holds. */
  def fromDenseKey[E](df: DataFrame, valueCol: Column, key: Column,
                      boundHint: Option[Long] = None)
                     (implicit enc: Encoder[Elem[E]]): SemanticStream[E] = {
    val n = boundHint.getOrElse(df.count())
    val out = df.withColumn("value", valueCol)
      .select(key.cast("long").as("ord"), key.cast("long").as("idx"), col("value"))
    new SemanticStream(out.as[Elem[E]], Contiguous, math.max(n, 0L))
  }

  /** Half-open numeric range with step (useRange, semantic.h:1654-1706).
    * step=0 → empty; negative steps count down. */
  def range(spark: SparkSession, start: Long, end: Long, step: Long = 1L): SemanticStream[Long] = {
    import spark.implicits._
    val n =
      if (step == 0L) 0L
      else if (step > 0) math.max(0L, (end - start + step - 1) / step)
      else math.max(0L, (start - end + (-step) - 1) / (-step))
    val ds = spark.range(n).select(
      col("id").as("ord"), col("id").as("idx"),
      (lit(start) + col("id") * step).as("value")).as[Elem[Long]]
    new SemanticStream(ds, Contiguous, math.max(n, 0L))
  }

  /** Inclusive range (useRangeClosed, semantic.h:1709-1761). */
  def rangeClosed(spark: SparkSession, start: Long, end: Long, step: Long = 1L): SemanticStream[Long] =
    if (step > 0) range(spark, start, end + 1, step)
    else if (step < 0) range(spark, start, end - 1, step)
    else range(spark, 0, 0)

  def empty[E](spark: SparkSession)(implicit enc: Encoder[Elem[E]]): SemanticStream[E] =
    new SemanticStream(spark.emptyDataset[Elem[E]], Contiguous, 0L)

  /** Literal elements (useOf, semantic.h:1983-2029). */
  def of[E](spark: SparkSession, elems: E*)(implicit enc: Encoder[Elem[E]]): SemanticStream[E] =
    from(spark, elems)

  /** Stream over a local collection (useFrom, semantic.h:2031-2066). */
  def from[E](spark: SparkSession, elems: Iterable[E])(implicit enc: Encoder[Elem[E]]): SemanticStream[E] = {
    val indexed = elems.iterator.zipWithIndex
      .map { case (e, i) => Elem(i.toLong, i.toLong, e) }.toSeq
    new SemanticStream(spark.createDataset(indexed), Contiguous, indexed.size.toLong)
  }

  /** Element repeated n times (useRepeat, semantic.h:2086-2099). */
  def repeat[E](spark: SparkSession, elem: E, n: Long)(implicit enc: Encoder[Elem[E]]): SemanticStream[E] = {
    val df = spark.range(n).select(
      col("id").as("ord"), col("id").as("idx"), lit(elem).as("value"))
    new SemanticStream(df.as[Elem[E]], Contiguous, math.max(n, 0L))
  }

  /** Uniform random doubles in [min,max) (useRandom, semantic.h:1873-1973).
    * The reference seeds from random_device; we take an explicit seed
    * (documented divergence, for reproducibility). Element i's value is
    * a hash of (i, seed) — the same variate as `StreamOps.randomStream` —
    * so it does not depend on the partition count (`rand(seed)` seeds
    * each partition separately). */
  def randomDoubles(spark: SparkSession, min: Double, max: Double, n: Long, seed: Long): SemanticStream[Double] = {
    import spark.implicits._
    val df = spark.range(n).select(
      col("id").as("ord"), col("id").as("idx"),
      (lit(min) + hashUniform(col("id"), seed) * (max - min)).as("value"))
    new SemanticStream(df.as[Elem[Double]], Contiguous, math.max(n, 0L))
  }

  /** Uniform random longs in [min,max] (useRandom int overloads); same
    * partition-invariant variate as [[randomDoubles]]. */
  def randomLongs(spark: SparkSession, min: Long, max: Long, n: Long, seed: Long): SemanticStream[Long] = {
    import spark.implicits._
    val df = spark.range(n).select(
      col("id").as("ord"), col("id").as("idx"),
      floor(hashUniform(col("id"), seed) * (max - min + 1) + min).cast("long").as("value"))
    new SemanticStream(df.as[Elem[Long]], Contiguous, math.max(n, 0L))
  }

  /** A double in [0, 1) from the low 52 bits of xxhash64(idx, seed); also
    * the variate of `StreamOps.randomStream`. */
  private[graft] def hashUniform(idx: Column, seed: Long): Column =
    pmod(xxhash64(idx, lit(seed)), lit(1L << 52)).cast("double") /
      lit((1L << 52).toDouble)

  /** Bounded iterate: seed, f(seed), … n elements (useIterate,
    * semantic.h:1829-1871). Inherently sequential — generated on the
    * driver, then distributed. Unbounded → graft.streaming rate source. */
  def iterate[E](spark: SparkSession, seed: E, f: E => E, n: Int)(implicit enc: Encoder[Elem[E]]): SemanticStream[E] =
    from(spark, Iterator.iterate(seed)(f).take(n).toSeq)

  /** Bounded generate: n supplier calls (useGenerate, semantic.h:1785-1827). */
  def generate[E](spark: SparkSession, supplier: () => E, n: Int)(implicit enc: Encoder[Elem[E]]): SemanticStream[E] =
    from(spark, Iterator.continually(supplier()).take(n).toSeq)

  /** Line stream from a text file (useBlob(istream)/useText,
    * semantic.h:2140-2258): one element per line, indexed in file order
    * (zipWithIndex over splits ordered by file offset). */
  def fromTextFile(spark: SparkSession, path: String): SemanticStream[String] = {
    import spark.implicits._
    val rdd = spark.sparkContext.textFile(path).zipWithIndex()
      .map { case (line, i) => Elem(i, i, line) }
    new SemanticStream(spark.createDataset(rdd), Contiguous)
  }

  /** Code-point stream of a string (useSequence, semantic.h:2260-2345). */
  def codePoints(spark: SparkSession, s: String)(implicit enc: Encoder[Elem[Int]]): SemanticStream[Int] =
    from(spark, s.codePoints().toArray.toIndexedSeq)

  /** Byte stream of a string, optionally a [start,end) byte range
    * (useBlob(string), semantic.h:2101-2138). */
  def blob(spark: SparkSession, s: String, start: Int = 0, end: Int = Int.MaxValue)
          (implicit enc: Encoder[Elem[Byte]]): SemanticStream[Byte] = {
    val bytes = s.getBytes("UTF-8")
    val lo = math.max(0, start); val hi = math.min(bytes.length, end)
    from(spark, if (lo >= hi) Seq.empty[Byte] else bytes.slice(lo, hi).toSeq)
  }
}
