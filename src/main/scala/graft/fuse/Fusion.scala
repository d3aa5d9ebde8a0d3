package graft.fuse

/** Conflict-resolution fusion — the per-cluster "GROUP BY cluster" fold that
  * produces one canonical record per duplicate cluster (bakdata/dedupe
  * `common/dedupe/fusion/ConflictResolutionFusion.java:48-105`,
  * `ConflictResolution.java:42-117`, `Merge.java:58-244`,
  * `CommonConflictResolutions.java`).
  *
  * Reimagined reflection-free: a [[Merge]] is a list of typed field folds
  * over the (small) member list of a cluster, executed inside `mapGroups`.
  * Resolution order, empty-value filtering (null or "") and the
  * ≤1-distinct-survivor rule are preserved; failures are captured as error
  * strings, not thrown (ref collects `FusionException`s into `FusedValue`,
  * `FusedValue.java:42-58`).
  */
object Fusion {

  /** Value + lineage (ref `AnnotatedValue`, `common/.../AnnotatedValue.java:37-73`;
    * source weight from `Source.java:35-55`). ts = epoch millis.
    */
  final case class Annotated[T](value: T, source: String, sourceWeight: Double, ts: Long)

  /** `resolvePartially`: list in, (narrowed) list out (ref
    * `ConflictResolution.java:42-58`).
    */
  type Resolution[T] = Seq[Annotated[T]] => Seq[Annotated[T]]

  // ------------------------------------------------------- resolutions
  // Each maps to a trivial fold; ties keep ALL tied values (the reference's
  // max/min/shortest/longest/mostFrequent keep ties for later stages,
  // `CommonConflictResolutions.java:99-105,219-240,285-297`).

  private def tiesBy[T, K](vs: Seq[Annotated[T]], key: Annotated[T] => K, keepMax: Boolean)
                          (implicit ord: Ordering[K]): Seq[Annotated[T]] =
    if (vs.isEmpty) vs
    else {
      val best = if (keepMax) vs.map(key).max else vs.map(key).min
      vs.filter(a => key(a) == best)
    }

  def max[T: Ordering]: Resolution[T] = vs => tiesBy(vs, (a: Annotated[T]) => a.value, keepMax = true)
  def min[T: Ordering]: Resolution[T] = vs => tiesBy(vs, (a: Annotated[T]) => a.value, keepMax = false)

  def longest: Resolution[String] = vs => tiesBy(vs, (a: Annotated[String]) => a.value.length, keepMax = true)
  def shortest: Resolution[String] = vs => tiesBy(vs, (a: Annotated[String]) => a.value.length, keepMax = false)

  def earliest[T]: Resolution[T] = vs => tiesBy(vs, (a: Annotated[T]) => a.ts, keepMax = false)
  def latest[T]: Resolution[T] = vs => tiesBy(vs, (a: Annotated[T]) => a.ts, keepMax = true)

  def first[T]: Resolution[T] = vs => vs.take(1)
  def last[T]: Resolution[T] = vs => vs.takeRight(1)

  /** Distinct values, first-seen order and lineage kept (ref :182-189). */
  def distinct[T]: Resolution[T] = vs => {
    val seen = scala.collection.mutable.LinkedHashMap.empty[T, Annotated[T]]
    vs.foreach(a => if (!seen.contains(a.value)) seen(a.value) = a)
    seen.values.toSeq
  }

  def mean: Resolution[Double] = vs =>
    if (vs.isEmpty) vs
    else Seq(calculated(vs, vs.map(_.value).sum / vs.size))

  def sum: Resolution[Double] = vs =>
    if (vs.isEmpty) vs else Seq(calculated(vs, vs.map(_.value).sum))

  /** Both middles survive on even counts (ref `median`, :202-210). */
  def median[T: Ordering]: Resolution[T] = vs =>
    if (vs.isEmpty) vs
    else {
      val sorted = vs.sortBy(_.value)
      val n = sorted.size
      if (n % 2 == 1) Seq(sorted(n / 2)) else Seq(sorted(n / 2 - 1), sorted(n / 2))
    }

  /** Modal values, all modes kept (ref `mostFrequent`, :285-297). */
  def mostFrequent[T]: Resolution[T] = vs =>
    if (vs.isEmpty) vs
    else {
      val counts = vs.groupBy(_.value).view.mapValues(_.size).toMap
      val m = counts.values.max
      distinct[T].apply(vs).filter(a => counts(a.value) == m)
    }

  /** Source-weighted vote (ref `vote`, :337-351). */
  def vote[T]: Resolution[T] = vs =>
    if (vs.isEmpty) vs
    else {
      val weights = vs.groupBy(_.value).view.mapValues(_.map(_.sourceWeight).sum).toMap
      val m = weights.values.max
      distinct[T].apply(vs).filter(a => weights(a.value) == m)
    }

  /** Keep values from the highest-priority source present
    * (ref `preferSource`, :361-379).
    */
  def preferSource[T](priority: String*): Resolution[T] = vs => {
    val rank = priority.zipWithIndex.toMap
    val present = vs.flatMap(a => rank.get(a.source)).sorted.headOption
    present match {
      case Some(best) => vs.filter(a => rank.get(a.source).contains(best))
      case None => vs
    }
  }

  /** Set-union of collection values (ref `union`, :388-416). */
  def union[T]: Resolution[Seq[T]] = vs =>
    if (vs.isEmpty) vs
    else Seq(calculated(vs, vs.flatMap(_.value).distinct))

  /** Concatenation of ALL collection values, duplicates kept (ref
    * `unionAll(factory)`, `CommonConflictResolutions.java:388-416`; the
    * factory argument chooses the target collection — Seq here).
    */
  def unionAll[T]: Resolution[Seq[T]] = vs =>
    if (vs.isEmpty) vs
    else Seq(calculated(vs, vs.flatMap(_.value)))

  /** Fusion failure raised inside a nested resolution; the enclosing
    * [[FieldMerge]] catches it into the outer error list (the reference
    * collects nested `FusionException`s the same way,
    * `ConflictResolutionFusion.java:83-88`).
    */
  final case class FusionError(msg: String) extends RuntimeException(msg)

  /** Recursive struct fusion: resolve a record-valued field by applying a
    * full nested [[Merge]] to the annotated struct values (ref
    * `merge(ctor)`, `CommonConflictResolutions.java:256-276`).
    */
  def nestedMerge[T](m: Merge[T]): Resolution[T] = vs =>
    if (vs.isEmpty) vs
    else {
      val (rec, errors) = m.fuse(vs)
      if (errors.nonEmpty) throw FusionError(errors.mkString("; "))
      Seq(calculated(vs, rec))
    }

  /** Pass-through that demands all values equal (ref `assumeEqualValue`,
    * :425-427 — error surfaces via the ≤1-survivor rule).
    */
  def assumeEqual[T]: Resolution[T] = identity

  def transform[T](f: T => T): Resolution[T] = vs => vs.map(a => a.copy(value = f(a.value)))

  def andThen[T](a: Resolution[T], b: Resolution[T]): Resolution[T] = vs => b(a(vs))

  // ---------------------------------------------------- tagged resolutions
  // Ref: `TaggedResolution.java:42-58`, `FusionContext.storeValues/
  // retrieveValues` (`FusionContext.java:42-61`) — resolved values stored
  // under a tag for cross-field consistency (e.g. pick the nickname from
  // the same source that won the name).

  /** Per-fusion mutable context threaded through the field folds. */
  final class FusionContext {
    val store: scala.collection.mutable.Map[String, Seq[Annotated[_]]] =
      scala.collection.mutable.Map.empty
  }

  type CtxResolution[T] = (Seq[Annotated[T]], FusionContext) => Seq[Annotated[T]]

  def lift[T](r: Resolution[T]): CtxResolution[T] = (vs, _) => r(vs)

  /** Run a resolution and store its survivors under `tag` (ref `saveAs`,
    * `CommonConflictResolutions.java:62-84`).
    */
  def saveAs[T](tag: String)(r: Resolution[T]): CtxResolution[T] = (vs, ctx) => {
    val out = r(vs)
    ctx.store(tag) = out
    out
  }

  /** Keep values whose source matches a source that survived the tagged
    * resolution (ref `corresponding`, :62-84).
    */
  def corresponding[T](tag: String, fallback: Resolution[T] = identity[Seq[Annotated[T]]] _)
      : CtxResolution[T] = (vs, ctx) =>
    ctx.store.get(tag) match {
      case Some(winners) =>
        val srcs = winners.map(_.source).toSet
        val matched = vs.filter(a => srcs(a.source))
        fallback(if (matched.nonEmpty) matched else vs)
      case None => fallback(vs)
    }

  /** Synthetic lineage for computed values (ref `Source.Calculated`,
    * `Source.java:41-46`).
    */
  private def calculated[T, U](basis: Seq[Annotated[T]], v: U): Annotated[U] =
    Annotated(v, "calculated", 1.0, basis.map(_.ts).max)

  // ------------------------------------------------------------ merge

  /** One field's fold: extract, drop empties, resolve, demand <=1 distinct
    * survivor, write back (ref `FieldMerge.mergeInto`, `Merge.java:90-100`;
    * emptiness = null or "" per `FusionContext.isNonEmpty`,
    * `FusionContext.java:51-53`).
    */
  final case class FieldMerge[T, V](
      name: String,
      get: T => V,
      set: (T, V) => T,
      ctxResolution: CtxResolution[V],
      isEmpty: V => Boolean = (v: V) => v == null || v == "") {

    def mergeInto(rec: T, members: Seq[Annotated[T]], ctx: FusionContext): Either[String, T] = {
      val vals = members.map(a => Annotated(get(a.value), a.source, a.sourceWeight, a.ts))
        .filterNot(a => isEmpty(a.value))
      try {
        val survivors = ctxResolution(vals, ctx).map(_.value).distinct
        survivors match {
          case Seq() => Right(rec)
          case Seq(v) => Right(set(rec, v))
          case many => Left(s"$name: ${many.size} irreconcilable values")
        }
      } catch {
        case Fusion.FusionError(msg) => Left(s"$name: $msg")
      }
    }
  }

  object FieldMerge {
    /** Plain (context-free) field fold — the common case. */
    def apply[T, V](name: String, get: T => V, set: (T, V) => T,
                    resolution: Resolution[V]): FieldMerge[T, V] =
      FieldMerge(name, get, set, lift(resolution))

    def apply[T, V](name: String, get: T => V, set: (T, V) => T,
                    resolution: Resolution[V], isEmpty: V => Boolean): FieldMerge[T, V] =
      FieldMerge(name, get, set, lift(resolution), isEmpty)
  }

  /** Field-wise merge of a cluster's members into one canonical record;
    * singleton clusters pass through untouched
    * (ref `ConflictResolutionFusion.java:77-79`).
    */
  final case class Merge[T](fields: Seq[FieldMerge[T, _]]) {
    def fuse(members: Seq[Annotated[T]]): (T, Seq[String]) = {
      require(members.nonEmpty, "empty cluster")
      if (members.size == 1) (members.head.value, Nil)
      else {
        var rec = members.head.value
        val errors = Seq.newBuilder[String]
        val ctx = new FusionContext
        fields.foreach { fm =>
          fm.asInstanceOf[FieldMerge[T, Any]].mergeInto(rec, members, ctx) match {
            case Right(r) => rec = r
            case Left(e) => errors += e
          }
        }
        (rec, errors.result())
      }
    }
  }
}
