package graft.ops

import graft.schema.TableSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

/** Bronze normalization (reference: gluejob.py:16-48, 278, 182-186).
  *
  * Pure Column expressions throughout — no UDFs — so everything stays
  * inside whole-stage codegen and survives pushdown.
  */
object Normalize {

  /** Boolean canonicalization F1 (gluejob.py:16-28): the six mapped
    * spellings collapse to 'true'/'false'; anything else passes through
    * unchanged. Typed booleans (JDBC path) are handled by the string
    * cast upstream ("true"/"false" already canonical). */
  def boolCanon(c: Column): Column =
    when(c.isin("True", "true", "t"), lit("true"))
      .when(c.isin("False", "false", "f"), lit("false"))
      .otherwise(c)

  /** Epoch-nanosecond LONG view of an event-time column, whatever the
    * fixture generation shipped: parquet TIMESTAMP(NANOS) arrives as a
    * raw LONG of nanoseconds (the only way Spark reads nanos),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    * TIMESTAMP_NTZ, and an instant-annotated column as TIMESTAMP. All
    * engine entry points pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is wall-clock preserving and matches DuckDB's
    * epoch_ns() on the same naive column. Integral arithmetic only —
    * 1e18-scale nanos lose low bits in a double. */
  def epochNanos(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case LongType => col(name)
      case TimestampNTZType =>
        unix_micros(col(name).cast(TimestampType)) * lit(1000L)
      case TimestampType => unix_micros(col(name)) * lit(1000L)
      case dt => throw new IllegalArgumentException(
        s"epochNanos: unsupported type $dt for column $name")
    }

  /** Epoch-microsecond LONG view; same contract as [[epochNanos]]. */
  def epochMicros(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case LongType => expr(s"`$name` div 1000")
      case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
      case TimestampType => unix_micros(col(name))
      case dt => throw new IllegalArgumentException(
        s"epochMicros: unsupported type $dt for column $name")
    }

  /** Timestamp text canonicalization F2+F3 (gluejob.py:182,186): parse,
    * re-emit with 6-digit microsecond text. */
  def canonTimestampText(c: Column): Column =
    date_format(to_timestamp(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Cast every declared column to string bronze (gluejob.py:278
    * `.astype`), apply boolean canon to the declared bool columns, and
    * canonical microsecond text to the partition date column. */
  def toBronze(df: DataFrame, spec: TableSpec): DataFrame = {
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = spec.columns.map { name =>
      val base = byName.get(name) match {
        // parquet ts without UTC adjustment arrives as TIMESTAMP_NTZ
        case Some(TimestampType | TimestampNTZType) if name == spec.dateCol =>
          date_format(col(name), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        case Some(StringType) if name == spec.dateCol =>
          canonTimestampText(col(name))
        case Some(_) => col(name).cast(StringType)
        case None => lit(null).cast(StringType) // declared but absent
      }
      val canon = if (spec.boolCols.contains(name)) boolCanon(base) else base
      canon.as(name)
    }
    df.select(cols: _*)
  }
}

/** Storage partition-key derivation (reference: gluejob.py:182-187).
  *
  * `company` is a constant label; `year`/`month` derive from the
  * per-table date column. Months are unpadded ints in the reference's
  * paths (`month=3`) — Spark's partitionBy writes int partition values
  * the same way.
  */
object PartitionKeys {

  def withCompanyYearMonth(df: DataFrame, dateCol: String,
      company: String = "Locaweb"): DataFrame = {
    val ts = to_timestamp(col(dateCol))
    df.withColumn("company", lit(company))
      .withColumn("year", year(ts))
      .withColumn("month", month(ts))
  }

  /** The partitions `df` touches with their exact row counts: one row
    * per distinct `partCols` value tuple, the count (Long) appended;
    * empty when `df` has no rows. One job and no shuffle — tasks count
    * locally, the driver merges. */
  def touchedCounts(df: DataFrame, partCols: Seq[String]): Seq[Row] =
    df.select(partCols.map(col): _*).rdd.mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      rows.foreach(r => n(r.toSeq) = n.getOrElse(r.toSeq, 0L) + 1L)
      n.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (k, c) => Row.fromSeq(k :+ c) }.toSeq
}

/** FK semi-join delta filtering (reference: gluejob.py:530-600).
  *
  * The reference joins child->parent chains purely to apply the parent
  * chain's watermark predicate; SELECT is always `child.*`. Inner FK=PK
  * with a unique right side ≡ left-semi, and left-semi is the safe
  * encoding (no duplicate inflation if keys repeat). The parent deltas
  * are small (one day of changes), so AQE turns every hop into a
  * broadcast-hash semi join — the big child side never shuffles.
  */
object SemiJoins {

  /** Walk `child` through an FK chain ordered child-outward. Each hop is
    * (fkColOnCurrentChild, parentDf, parentIdCol): the first hop's fk
    * column lives on `child`, the second hop's fk column lives on the
    * first parent, and so on (gluejob.py:558-579 nested-chain shape).
    * Parents are first reduced by the hops beyond them, then each child
    * is left-semi-joined to its reduced parent's key set. */
  def semiJoinChain(child: DataFrame,
      chain: Seq[(String, DataFrame, String)]): DataFrame =
    chain.headOption match {
      case None => child
      case Some((fk, parent, idCol)) =>
        val reducedParent = semiJoinChain(parent, chain.tail)
        // leftsemi dedups build-side matches itself — no distinct() needed
        child.join(reducedParent.select(col(idCol).as(fk)), Seq(fk), "leftsemi")
    }
}
