package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sinks.Sinks

/** The algebra of an additive count store: the counting algorithm of
  * incremental view maintenance (Gupta, Mumick and Subrahmanian,
  * "Maintaining Views Incrementally", SIGMOD 1993), written once for
  * every maintained store whose state is counts over disjoint doc sets:
  * raw BM25 ([[TextOps.Bm25Raw]]), the NB langid store ([[LangId.NbRaw]]),
  * the raw bigram LM ([[TextOps.LmRaw]]), the data-card store
  * ([[TextOps.CardStore]]) and admission's per-batch deltas.
  *
  * A store of a doc set is its doc-keyed postings (each doc's own rows),
  * the count tables they add up to and long totals. So
  *  - the store of A ∪ B (disjoint) is [[merge]] of the two: postings
  *    union, counts sum per key, totals add;
  *  - the store of A is [[subtract]] of B's store from A ∪ B's: postings
  *    lose B's docs, counts subtract per key and a row whose count
  *    measure reaches 0 drops, totals subtract;
  *  - [[remove]] takes docs out by id alone: it projects their OWN
  *    stored postings, so no text is re-read (it may already be gone).
  * `PropertySpec`'s law table pins all of it per family against a
  * rebuild, as row multisets.
  *
  * Every operation is lazy; what to materialize is the caller's choice
  * ([[Store.checkpoint]]). */
private[graft] object Additive {

  /** A count table's shape: its key columns, every other column a long
    * measure summed per key, and the measure whose reaching 0 drops the
    * row. Only that one decides: a card-store source whose docs are all
    * empty keeps its row with `ws_tokens` 0. */
  final case class Counts(keys: Seq[String], count: String)

  /** The shape of one kind of store: its count tables, its doc-keyed
    * postings tables (each with a `doc_id` column) and its totals. */
  abstract class Family(val counts: Seq[(String, Counts)],
      val postings: Seq[String] = Nil, val totals: Seq[String] = Nil) {
    /** The store of a doc set from its own postings rows (by table name):
      * the postings, the count tables and the totals they add up to.
      * [[remove]] calls it on the removed docs' stored rows. */
    def project(own: Map[String, DataFrame]): Store =
      throw new UnsupportedOperationException(s"$this keeps no postings to project")
    def names: Seq[String] = postings ++ counts.map(_._1)
    /** The dirs [[save]] writes under a store's path. */
    def dirs: Seq[String] = names ++ Option.when(totals.nonEmpty)("totals")
  }

  final case class Store(family: Family, frames: Map[String, DataFrame],
      totals: Map[String, Long] = Map.empty) {
    def apply(name: String): DataFrame = frames(name)
    /** This store with the named frames materialized, one job each. */
    def checkpoint(names: String*): Store =
      copy(frames = frames ++ names.map(n => n -> frames(n).localCheckpoint()))
  }

  /** The store of the union of the stores' doc sets, which must be
    * disjoint. One store alone is folded to one row per key: a [[load]]
    * of several saved parts holds a row per key per part. */
  def merge(stores: Store*): Store = {
    val f = stores.head.family
    def union(n: String) = stores.map(_(n)).reduce(_ unionByName _)
    val counts = f.counts.map { case (n, c) =>
      val u = union(n)
      val sums = u.columns.filterNot(c.keys.contains).map(m => sum(col(m)).as(m))
      n -> u.groupBy(c.keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }
    Store(f, (f.postings.map(n => n -> union(n)) ++ counts).toMap,
      f.totals.map(t => t -> stores.map(_.totals(t)).sum).toMap)
  }

  /** `a` without the docs of `b`, which `a` holds. Of `b`'s postings only
    * the `doc_id` column is read. */
  def subtract(a: Store, b: Store): Store = {
    val f = a.family
    val counts = f.counts.map { case (n, c) =>
      val ms = a(n).columns.filterNot(c.keys.contains)
      val dec = b(n).select(c.keys.map(col) ++ ms.map(m => col(m).as(s"${m}_dec")): _*)
      n -> a(n).join(dec, c.keys, "left")
        .select(c.keys.map(col) ++
          ms.map(m => (col(m) - coalesce(col(s"${m}_dec"), lit(0L))).as(m)): _*)
        .filter(col(c.count) > 0)
    }
    val postings = f.postings.map(n =>
      n -> a(n).join(b(n).select("doc_id"), Seq("doc_id"), "left_anti"))
    Store(f, (postings ++ counts).toMap,
      f.totals.map(t => t -> (a.totals(t) - b.totals(t))).toMap)
  }

  /** `a` without the docs whose ids `ids` holds (duplicates and ids `a`
    * lacks are harmless): their own stored postings, projected by the
    * family, subtracted. No broadcast hint on the victim joins: a
    * takedown batch is usually tiny, a dedup-driven purge is not (the
    * q95/q103 AQE rule). */
  def remove(a: Store, ids: DataFrame): Store = {
    val vic = ids.select("doc_id")
    val own = a.family.project(
      a.family.postings.map(n => n -> a(n).join(vic, Seq("doc_id"), "left_semi")).toMap)
    subtract(a, own.copy(frames = own.frames ++ a.family.postings.map(_ -> vic)))
  }

  /** Write `st` under `path`, the frames concurrently: each to
    * `<path>/<name>`, and the totals as the one row of `<path>/totals`.
    * With a `part` (a `k=v` dir name such as `batch=3`) each lands in
    * `<path>/<name>/<part>` instead, so the stores saved under one path
    * with distinct parts [[load]] as their sum. */
  def save(st: Store, path: String, part: String = ""): Unit = {
    def dir(n: String) = if (part.isEmpty) s"$path/$n" else s"$path/$n/$part"
    val s = st.frames.head._2.sparkSession
    val totals = Option.when(st.family.totals.nonEmpty)(() =>
      s.createDataFrame(java.util.List.of(Row.fromSeq(st.family.totals.map(st.totals))),
          StructType(st.family.totals.map(StructField(_, LongType, nullable = false))))
        .write.mode("overwrite").parquet(dir("totals")))
    Sinks.concurrently(st.family.names.map(n =>
      () => st(n).write.mode("overwrite").parquet(dir(n))) ++ totals: _*)
  }

  /** The store [[save]] wrote under `path`, each dir read by `read` (which
    * must leave no partition column). Over several saved parts it is
    * their sum, one row per key per part: [[merge]] folds it. Collecting
    * the totals is one job; the frames stay lazy. */
  def load(f: Family, path: String, read: String => DataFrame): Store = {
    val totals = if (f.totals.isEmpty) Map.empty[String, Long] else {
      val rows = read(s"$path/totals").select(f.totals.map(col): _*).collect()
      f.totals.indices.map(i => f.totals(i) -> rows.map(_.getLong(i)).sum).toMap
    }
    Store(f, f.names.map(n => n -> read(s"$path/$n")).toMap, totals)
  }
}
