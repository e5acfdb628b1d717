package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}

import graft.functions.TypeInference
import graft.operators.{Filters, GroupBy, Imputation, Joins, Pivots, Sorts}
import graft.sources.{Readers, Writers}

/** tab_etl: tablite's own benchmark shape on the reference's
  * `synthetic_order_data`. A pass reads the CSV as strings, infers
  * types, filters, left-joins a seeded store dimension, imputes the
  * planted missing weights, sorts, saves to parquet, reads the table
  * back and runs a groupby and a pivot over it.
  */
object TabEtl extends Workload {

  val sizes = Gen.TabParams(rows = 120000L, stores = 1001, dimCoverPct = 90, regions = 8)
  val MinVolume = 0.25
  val Codes: Seq[String] = for (a <- 1 to 5; b <- 1 to 5) yield s"C$a-$b"

  final case class State(dir: Path, csvBytes: Long,
      refGroup: Seq[Seq[Any]] = Nil, refPivot: Seq[Seq[Any]] = Nil)
  type S = State

  def params: Map[String, Any] = fieldsOf(sizes) + ("min_volume" -> MinVolume)
  // measured on 4 cores: the second and third passes still run 10-25%
  // faster than the first, so one warm pass leaves the measured passes
  // drifting
  override def warmPasses: Int = 2

  def setup(ctx: Ctx, dir: Path): State = State(dir, Gen.writeTab(ctx.spark, dir, ctx.seed, sizes))

  private def dim(ctx: Ctx, dir: Path): DataFrame =
    ctx.spark.read.option("header", "true")
      .schema("store_id BIGINT, region STRING, weight DOUBLE")
      .csv(dir.resolve("dim.csv").toString)

  /** The same chain in plain Spark SQL, without graft operators: the
    * results every pass must reproduce.
    */
  override def reference(ctx: Ctx, st: State): State = {
    val spark = ctx.spark
    val dir = st.dir
    spark.read.option("header", "true").csv(dir.resolve("orders").toString)
      .createOrReplaceTempView("ref_orders")
    dim(ctx, dir).createOrReplaceTempView("ref_dim")
    spark.sql(
      s"""SELECT CAST(`#` AS BIGINT) AS id, CAST(`3` AS BIGINT) AS store, `6` AS code,
         |       CAST(`10` AS DOUBLE) AS vol, CAST(`11` AS DOUBLE) AS units, d.region, d.weight
         |FROM ref_orders o LEFT JOIN ref_dim d ON CAST(o.`3` AS BIGINT) = d.store_id
         |WHERE CAST(`10` AS DOUBLE) >= $MinVolume""".stripMargin)
      .createOrReplaceTempView("ref_joined")
    spark.sql(
      """SELECT id, store, code, vol, units, region,
        |       COALESCE(weight, (SELECT AVG(weight) FROM ref_joined)) AS weight
        |FROM ref_joined""".stripMargin).createOrReplaceTempView("ref_imputed")
    val g = spark.sql(
      """SELECT store, SUM(vol), AVG(units), COUNT(*), SUM(weight)
        |FROM ref_imputed GROUP BY store""".stripMargin).collect()
    val codes = Codes.map(c => s"'$c'").mkString(", ")
    val p = spark.sql(
      s"""SELECT * FROM (SELECT region, code, vol FROM ref_imputed)
         |PIVOT (SUM(vol) FOR code IN ($codes))""".stripMargin).collect()
    st.copy(refGroup = canonical(g), refPivot = canonical(p))
  }

  /** Order-independent form of collected rows: sorted by their first
    * (key) column. Doubles are compared with a relative tolerance, not
    * rounded: the generated values are exact 8-decimal numbers, so a
    * rounding cut could land on a tie and flip with addition order.
    */
  def canonical(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(r => String.valueOf(r.head)).toSeq

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case _ => a == b
  }

  private def diff(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    val bad = got.zipAll(want, Nil, Nil).find { case (a, b) =>
      a.length != b.length || a.zip(b).exists { case (x, y) => !same(x, y) }
    }
    bad.map { case (a, b) =>
      s"$what: ${got.length} rows (want ${want.length}), first difference " +
        s"got [${a.mkString("|")}] want [${b.mkString("|")}]"
    }
  }

  def pass(ctx: Ctx, st: State): Outcome = {
    val spark = ctx.spark
    val out = ctx.work.resolve("tab_out")
    val raw = ctx.call("sources.read_csv")(Readers.readCsv(spark,
      st.dir.resolve("orders").toString, Readers.CsvOptions(guessDatatypes = false)))
    val typed = ctx.call("functions.infer")(TypeInference.applyBestTypes(raw))
    val kept = ctx.call("operators.filter")(
      Filters.filterAllWhere(typed, Map("10" -> ((c: org.apache.spark.sql.Column) => c >= MinVolume))))
    val joined = ctx.call("operators.join")(Joins.join(kept, dim(ctx, st.dir),
      Seq("3"), Seq("store_id"), "left", rightColumns = Some(Seq("region", "weight"))))
    val imputed = ctx.call("operators.impute")(Imputation.fillWithStat(joined, Seq("weight"), "mean"))
    val sorted = ctx.call("operators.sort")(Sorts.sorted(imputed, Seq("3" -> false, "#" -> false)))
    ctx.effect("sources.save")(Writers.save(sorted, out.toString))
    val back = spark.read.parquet(out.toString)
    val g = ctx.call("operators.groupby")(GroupBy.groupby(back, Seq("3"),
      Seq("10" -> "Sum", "11" -> "Average", "#" -> "Count", "weight" -> "Sum"))).collect()
    val p = ctx.call("operators.pivot")(Pivots.pivot(back, Seq("region"), Seq("6"),
      Seq("10" -> "Sum"), pivotValues = Codes)).collect()
    val written = Gen.dirBytes(out, ".parquet")
    val errs = diff("groupby", canonical(g), st.refGroup).toSeq ++
      diff("pivot", canonical(p), st.refPivot)
    Outcome(if (errs.isEmpty) None else Some(errs.mkString("; ")),
      Map("bytes_written" -> written.toDouble,
        "bytes_written_per_input_byte" -> written.toDouble / st.csvBytes))
  }
}
