package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.FameSession
import graft.ast.Frequency
import graft.kernels.Convert

/** The keyed down-convert bridge runs in-frame (Convert.bridgeDown:
  * window aggregates over (keys, period), missing anchors synthesized by
  * an explode) instead of the full outer join on (keys, DATE) it
  * replaced. This spec holds it to that join, kept below as the test's
  * reference: same columns in the same order, same rows (synthetic anchor
  * rows included), same cells.
  */
class BridgeSpec extends SparkSpec {

  /** The full-outer-join bridge: per group, `Convert.down` over the
    * pre-bridge frame, renamed to the suffix contract and joined back on
    * `keys :+ DATE`.
    */
  private def joinBridge(in: DataFrame, keys: Seq[String],
      groups: Seq[(String, Frequency, String)]): DataFrame = {
    val base = in.withColumn("DATE", to_date(col("DATE")))
    groups.foldLeft(base) { case (cur, (c, tgt, observed)) =>
      val projected = base.select((keys :+ "DATE" :+ c).map(col): _*)
      val converted = Convert.down(projected, "DATE", Seq(c),
        Frequency.Monthly, tgt, observed, keys)
        .withColumnRenamed(c, c + tgt.suffix)
      cur.withColumn("DATE", to_date(col("DATE")))
        .join(converted.hint("SHUFFLE_HASH"), keys :+ "DATE", "full")
    }
  }

  private val keys = Seq("G", "K")

  /** Two keys; one dense key, one gapped key missing quarter and year
    * anchors, one key with no anchor month at all, a null K, a null G,
    * null values and a row with a null DATE.
    */
  private def input: DataFrame = {
    val rnd = new scala.util.Random(7)
    def v(): Any = if (rnd.nextInt(9) == 0) null else rnd.nextDouble() * 1000
    def month(y: Int, m: Int) = java.sql.Date.valueOf(f"$y-$m%02d-01")
    val all = for (y <- Seq(1995, 1996); m <- 1 to 12) yield (y, m)
    def rows(g: String, k: String, months: Seq[(Int, Int)]) =
      months.map { case (y, m) => Row(g, k, month(y, m), v(), v()) }
    val gapped = all.filterNot(Set((1995, 1), (1995, 4), (1995, 7),
      (1995, 10), (1995, 11), (1995, 12), (1996, 1)))
    val noAnchor = Seq(2, 3, 5, 6, 8, 11).map(m => (1995, m))
    val data =
      rows("g", "A", all) ++ Seq(Row("g", "A", null, 5.0, 6.0)) ++
      rows("g", "B", gapped) ++ rows("g", "C", noAnchor) ++
      rows("g", null, (1 to 6).map(m => (1995, m))) ++
      rows(null, "A", (2 to 4).map(m => (1995, m)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(data).asJava),
      StructType(Seq(StructField("G", StringType), StructField("K", StringType),
        StructField("DATE", DateType), StructField("X", DoubleType),
        StructField("Y", DoubleType))))
  }

  /** Rows as comparable cells (doubles kept as doubles), sorted by the
    * input columns (G, K, DATE, X, Y) and the null pattern of the
    * converted ones — never by a converted value, so rows pair up even
    * where sums differ in the last bits.
    */
  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: java.sql.Date => d.toString
      case x => x
    }).sortBy(r => (r.take(5).map(String.valueOf) ++
      r.drop(5).map(_ == null)).mkString("|"))

  private val observedVariants =
    Seq("sum", "average", "annualized", "first", "end", "high", "low")

  test("in-frame keyed bridge equals the full-outer-join bridge, bit for " +
      "bit on a single-partition input: gapped keys, a key without anchor " +
      "months, null keys, a null date, m→q and m→a groups, every observed") {
    // one input partition, rows in date order per key: the join's partial
    // aggregation and the bridge's date-ordered window sum each period in
    // the same order, so every double must match exactly
    val in = input.coalesce(1)
    observedVariants.foreach { obs =>
      val script =
        s"""freq m
           |xq = convert(x, q, discrete, $obs)
           |ya = convert(y, a, discrete, $obs)""".stripMargin
      val got = FameSession.run(script, in, partitionKeys = keys).df
      val want = joinBridge(in, keys,
        Seq(("X", Frequency.Quarterly, obs), ("Y", Frequency.Annual, obs)))
      assert(got.columns.toSeq == want.columns.toSeq, obs)
      val (g, w) = (cells(got), cells(want))
      assert(g.size == w.size, s"$obs: ${g.size} rows vs ${w.size}")
      g.zip(w).foreach { case (a, b) =>
        val bits = (r: Seq[Any]) => r.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case x => x
        }
        assert(bits(a) == bits(b), s"$obs:\n got  $a\n want $b")
      }
      // the synthetic anchors exist: B's missing Q1 1995 anchor and C's
      // (C has no input row on any anchor month)
      Seq(("B", "1995-01-01"), ("C", "1995-01-01"), ("C", "1995-04-01"))
        .foreach { case (k, dt) =>
          assert(g.exists(r => r(0) == "g" && r(1) == k && r(2) == dt),
            s"$obs: no synthetic anchor row for ($k, $dt)")
        }
    }
  }

  test("in-frame keyed bridge equals the full-outer-join bridge on a " +
      "scattered multi-partition input: same rows and nulls, sums equal " +
      "to summation order") {
    // round-robin partitions scatter each period's rows: the join summed
    // per-input-partition partials, the bridge sums in date order, so
    // sums may differ in the last bits — everything else is exact
    val in = input.repartition(3)
    observedVariants.foreach { obs =>
      val script =
        s"""freq m
           |xq = convert(x, q, discrete, $obs)
           |ya = convert(y, a, discrete, $obs)""".stripMargin
      val got = cells(FameSession.run(script, in, partitionKeys = keys).df)
      val want = cells(joinBridge(in, keys,
        Seq(("X", Frequency.Quarterly, obs), ("Y", Frequency.Annual, obs))))
      assert(got.size == want.size, s"$obs: ${got.size} rows vs ${want.size}")
      got.zip(want).foreach { case (a, b) =>
        a.zip(b).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)),
              s"$obs:\n got  $a\n want $b")
          case (x, y) => assert(x == y, s"$obs:\n got  $a\n want $b")
        }
      }
    }
  }
}
