package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a derived store is computed from. Each artifact declares and
  * reads its own inputs; `store` names the derived store an input reads,
  * which repair rebuilds first and the deep audit reads as stored. */
abstract class Input(val store: Option[String])

/** How the deep audit compares a derived store with its re-derivation. */
sealed trait Check

/** Derived and stored rows are equal on the store's data columns (its
  * partition column excluded): a full-outer join in which each row
  * missing a side is one violation. */
case object Exact extends Check

/** Every derived `key` has a stored row whose `upper` column is ≥ and
  * `lower` column ≤ the derived one: a stale but valid bound is healthy,
  * a missing or broken one is one violation. */
final case class Bound(key: String, upper: String, lower: String) extends Check

/** The one function that derives a store's rows (partition column
  * included) from its input, the `invariant` the deep audit checks the
  * store under, and how. A `live` check masks pending deletes from the
  * input, for a store that maintenance keeps in step with the live docs
  * rather than the physical rows. */
final case class Derivation(from: Input, invariant: String,
                            rows: DataFrame => DataFrame,
                            check: Check = Exact, live: Boolean = false)

/** One persisted store of an artifact: its directory under the
  * artifact's root, its partition column (none for a one-row store), the
  * tokenizer kinds whose indexes carry it (inverted indexes only), and
  * its derivation unless it is a primary store. `built = false` leaves
  * the store to its first backfill; `appended` marks the stores
  * maintenance appends to, which compaction folds. */
final case class Store(dir: String, part: Option[String],
                       kinds: Set[String] = Set.empty,
                       derivation: Option[Derivation] = None,
                       built: Boolean = true,
                       appended: Boolean = false) {
  /** This store's rows for the input rows `in`. */
  def derive(in: DataFrame): DataFrame = derivation.get.rows(in)
}

/** The operations every artifact runs from its store declarations: write,
  * append, the deep audit of its derived stores, repair and compaction.
  * `root` is the artifact's directory; `input` reads a derived store's
  * input from the stores. */
object Store {

  def pathOf(root: Path, s: Store): String = root.resolve(s.dir).toString

  /** Write `rows` as store `s` at `path`: one task, and so one file, per
    * partition directory (the createIfAbsent small-files discipline). */
  def write(s: Store, rows: DataFrame, path: String): Unit = s.part match {
    case Some(c) =>
      rows.repartition(col(c)).write.mode("overwrite").partitionBy(c).parquet(path)
    case None => rows.coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Append `rows` (partition column included) to store `s`: new part
    * files in the touched partitions, which compaction later folds. */
  def append(root: Path, s: Store, rows: DataFrame): Unit = {
    val c = s.part.get
    rows.repartition(col(c)).write.mode("append").partitionBy(c).parquet(pathOf(root, s))
  }

  /** The derived store `s` reads, if any. */
  private def parentOf(s: Store): Option[String] =
    s.derivation.flatMap(_.from.store)

  /** One audit row: `violations` aggregated over `from`. */
  def auditRow(artifact: String, invariant: String, violations: Column,
               from: DataFrame): DataFrame =
    from.agg(coalesce(violations, lit(0L)).as("violations"))
      .select(lit(artifact).as("artifact"), lit(invariant).as("invariant"),
        col("violations"))

  /** The deep audit of the derived stores among `stores`: one row per
    * store, its declared invariant with the count of its `check`'s
    * violations against `derive(input)`. `read` reads a store directory
    * (an artifact shares one read per directory across the audit's
    * checks); `live` masks pending deletes from the input of a `live`
    * check. */
  def audit(artifact: String, root: Path, stores: Seq[Store], read: String => DataFrame,
            input: Input => DataFrame, live: DataFrame => DataFrame): DataFrame =
    stores.filter(_.derivation.isDefined).map { s =>
      val d = s.derivation.get
      val derived = d.rows(if (d.live) live(input(d.from)) else input(d.from))
      val stored = read(pathOf(root, s))
      d.check match {
        case Exact =>
          // the full-outer join's count in one aggregation: a row value
          // held d times derived and s times stored leaves d rows without
          // a stored side when s = 0, and s rows without a derived side
          // when d = 0 (null-safe, as a grouping key is)
          val cols = derived.columns.toSeq.filterNot(s.part.contains).map(col)
          val (dn, sn) = (col("derived_"), col("stored_"))
          val sides = derived.select(cols :+ lit(1L).as("derived_") :+ lit(0L).as("stored_"): _*)
            .unionByName(stored.select(cols :+ lit(0L).as("derived_") :+ lit(1L).as("stored_"): _*))
            .groupBy(cols: _*).agg(sum(dn).as("derived_"), sum(sn).as("stored_"))
          auditRow(artifact, d.invariant,
            sum(when(sn === 0L, dn).when(dn === 0L, sn).otherwise(0L)), sides)
        case Bound(key, upper, lower) =>
          val cmp = derived.select(col(key), col(upper).as("derived_u"),
              col(lower).as("derived_l"))
            .join(stored.select(col(key), col(upper), col(lower))
              .withColumn("stored_", lit(1)), Seq(key), "left")
          val broken = col("stored_").isNull ||
            col(upper) < col("derived_u") || col(lower) > col("derived_l")
          auditRow(artifact, d.invariant, sum(when(broken, 1L).otherwise(0L)), cmp)
      }
    }.reduce(_ unionByName _)

  /** REPAIR: republish every derived store among `stores` from its
    * input. A store reading another derived store is rebuilt after it,
    * in one chain per store that reads none; the chains run as
    * overlapped jobs (Par, guide §2.6). Each store is one replace
    * publish, whose swap refreshes any frame cached over it. The caller
    * holds the artifact's writer lease. */
  def rebuild(spark: SparkSession, root: Path, stores: Seq[Store],
              input: Input => DataFrame): Unit = {
    val derived = stores.filter(_.derivation.isDefined)
    val chains = derived.filter(parentOf(_).isEmpty).map(top =>
      top +: derived.filter(parentOf(_).contains(top.dir)))
    graft.operators.Par.run(chains.map(chain => () => chain.foreach(s =>
      Maintenance.publishReplace(spark, pathOf(root, s))(
        write(s, s.derive(input(s.derivation.get.from)), _)))),
      parallelism = chains.size)
  }

  /** Fold every fragmented partition of the `appended` stores among
    * `stores` through [[Maintenance.compactPartitions]]: disjoint stores,
    * overlapped folds. The caller holds the artifact's writer lease
    * (compactPartitions takes none, so no child thread re-acquires it). */
  def compact(spark: SparkSession, root: Path, stores: Seq[Store]): Unit = {
    val present = stores.filter(s => s.appended && Files.exists(root.resolve(s.dir)))
    graft.operators.Par.run(present.map(s => () => {
      Maintenance.compactPartitions(spark, pathOf(root, s), s.part.toSeq); ()
    }), parallelism = present.size)
  }
}
