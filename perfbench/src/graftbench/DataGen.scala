package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession

/** Writes the benchmark's input tables: `orders.parquet` and
  * `lineitem.parquet` in the column layout `graft.Tables.interactions`
  * reads (custkey → user, partkey → item, orderdate → time, quantity →
  * rating). The tables are fixed: a constant generator seed, independent
  * of the workload seed, which only picks samples of them.
  *
  * Shape: the one measured on the project's sf0.1 tables (600,000
  * interactions; see perfbench/README.md), scaled the way its sf0.01 and
  * sf0.001 tables are: users, items and orders shrink together, so
  * interactions per user (≈ 40) and per item (≈ 30) stay as measured.
  *   - every order's customer is uniform over the users, so orders per
  *     user are ≈ Poisson(10);
  *   - lines per order are Poisson(4) (orders with none exist);
  *   - every line's part is uniform over the items (flat popularity);
  *   - order dates are uniform over 1995-01-01 … 2001-08-01;
  *   - quantities are uniform over 1 … 50.
  */
object DataGen {
  /** Sizes of the measured sf0.1 tables. */
  val Sf01Users = 15000
  val Sf01Items = 20000
  val Sf01Orders = 150000
  /** Share of sf0.1 generated: 1/20, i.e. sf0.005. */
  val ScaleDivisor = 20
  val Users: Int = Sf01Users / ScaleDivisor
  val Items: Int = Sf01Items / ScaleDivisor
  val Orders: Int = Sf01Orders / ScaleDivisor
  val LinesPerOrderMean = 4.0
  /** Days from 1995-01-01 to 2001-08-01. */
  val DateSpanDays = 2404
  val GeneratorSeed = 42L
  /** 1995-01-01 as days since the epoch (UTC). */
  val Day0 = 9131L

  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderdate: Timestamp)
  final case class Line(l_orderkey: Long, l_partkey: Long, l_linenumber: Int, l_quantity: Double)

  /** Knuth's Poisson sampler; fine for small means. */
  private def poisson(rng: scala.util.Random, mean: Double): Int = {
    val limit = math.exp(-mean)
    var n = 0
    var p = rng.nextDouble()
    while (p > limit) { n += 1; p *= rng.nextDouble() }
    n
  }

  def generate(): (Seq[Order], Seq[Line]) = {
    val rng = new scala.util.Random(GeneratorSeed)
    val orders = Seq.newBuilder[Order]
    val lines = Seq.newBuilder[Line]
    for (o <- 0 until Orders) {
      val day = rng.nextInt(DateSpanDays + 1).toLong
      orders += Order(o.toLong, rng.nextInt(Users).toLong, new Timestamp((Day0 + day) * 86400000L))
      for (ln <- 1 to poisson(rng, LinesPerOrderMean))
        lines += Line(o.toLong, rng.nextInt(Items).toLong, ln, (1 + rng.nextInt(50)).toDouble)
    }
    (orders.result(), lines.result())
  }

  /** Writes the tables under `dir` (one parquet file each). */
  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val (orders, lines) = generate()
    orders.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lines.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
}
