package graft.operators

import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.core.{Condition, TableInfo}
import graft.sources.{InMemoryResolver, ParquetResolver}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JoinExecutorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // users ⋈ orders fixture with a null key on each side and duplicate
  // non-key column names ("name") across tables
  private def users: DataFrame = Seq(
    (Some(1L), "ann"), (Some(2L), "bob"), (Some(3L), "cat"),
    (None: Option[Long], "nul"))
    .toDF("uid", "name")
  private def orders: DataFrame = Seq(
    (Some(1L), "o1", 10.0), (Some(1L), "o2", 20.0), (Some(2L), "o3", 30.0),
    (None: Option[Long], "onull", 40.0))
    .toDF("uid", "name", "amount")

  private def resolver = new InMemoryResolver(Map("users" -> users, "orders" -> orders))
  private def hashEx = new HashJoinExecutor(spark, resolver)
  private def nestedEx = new NestedJoinExecutor(spark, resolver)
  private def ti(t: String, c: String) = TableInfo(t, c)

  test("inner join matches on keys; null keys never match") {
    val out = hashEx.join(ti("users", "uid"), ti("orders", "uid")).execute()
    assert(out.count() == 3)
    assert(out.columns.toSet ==
      Set("users__uid", "users__name", "orders__uid", "orders__name", "orders__amount"))
  }

  test("left outer null-extends unmatched left rows (incl. null-key row)") {
    val out = hashEx.leftJoin(ti("users", "uid"), ti("orders", "uid")).execute()
    assert(out.count() == 5) // ann×2, bob, cat+null, nul+null
    assert(out.filter(col("orders__uid").isNull).count() == 2)
  }

  test("right outer mirrors left; full outer preserves both sides") {
    val r = hashEx.rightJoin(ti("orders", "uid"), ti("users", "uid")).execute()
    assert(r.count() == 5)
    val f = new HashJoinExecutor(spark, resolver)
      .fullOuterJoin(ti("users", "uid"), ti("orders", "uid")).execute()
    assert(f.count() == 6) // 3 matches + cat + users-null + orders-null
  }

  test("hash path agrees with nested path on equi-joins (differential, README.md:16-17)") {
    val h = hashEx.join(ti("users", "uid"), ti("orders", "uid")).execute()
    val n = nestedEx.join(ti("users", "uid"), ti("orders", "uid")).execute()
    assert(h.exceptAll(n).isEmpty && n.exceptAll(h).isEmpty)
  }

  test("theta joins: <, !=, and null keys never match nor crash (SURVEY quirk 8)") {
    val lt = nestedEx.join(ti("users", "uid"), ti("orders", "amount"), "<").execute()
    // every non-null uid (1,2,3) < every amount (10,20,30,40) → 12 rows
    assert(lt.count() == 12)
    val neq = new NestedJoinExecutor(spark, resolver)
      .join(ti("users", "uid"), ti("orders", "uid"), "!=").execute()
    // non-null uids {1,2,3} × non-null order uids {1,1,2}: pairs differing → 6
    assert(neq.count() == 6)
  }

  test("theta join = cross join + filter (property)") {
    val theta = nestedEx.join(ti("users", "uid"), ti("orders", "amount"), ">=").execute()
    val manual = users.select(col("uid").as("u")).crossJoin(orders.select(col("amount")))
      .filter(col("u") >= col("amount"))
    assert(theta.count() == manual.count())
  }

  test("composite keys join on all columns") {
    val l = Seq((1L, "x", "L1"), (1L, "y", "L2"), (2L, "x", "L3")).toDF("a", "b", "v")
    val r = Seq((1L, "x", "R1"), (2L, "x", "R2"), (2L, "y", "R3")).toDF("a", "b", "v")
    val res = new HashJoinExecutor(spark, new InMemoryResolver(Map("l" -> l, "r" -> r)))
      .join(TableInfo("l", Seq("a", "b")), TableInfo("r", Seq("a", "b")))
      .execute()
    assert(res.count() == 2)
  }

  test("self-join via alias") {
    val res = hashEx
      .join(TableInfo("orders", Seq("uid"), None), TableInfo("orders", Seq("uid"), Some("o2")))
      .execute()
    // per non-null uid: 1→2×2, 2→1 ⇒ 5
    assert(res.count() == 5)
    assert(res.columns.contains("o2__amount"))
  }

  test("filterBy applies residually with qualified resolution") {
    val res = hashEx.join(ti("users", "uid"), ti("orders", "uid"))
      .filterBy(Condition("orders.amount", ">", 15.0) & !Condition("users.name", "=", "bob"))
      .execute()
    assert(res.count() == 1) // ann/o2=20 (bob/o3 excluded)
  }

  test("validation: theta on hash executor rejected") {
    assertThrows[IllegalArgumentException] {
      hashEx.join(ti("users", "uid"), ti("orders", "uid"), "<")
    }
  }

  test("validation: select() without the join column is a hard error (quirk 6)") {
    assertThrows[IllegalArgumentException] {
      hashEx.select("users", Seq("name"))
        .join(ti("users", "uid"), ti("orders", "uid"))
        .execute()
    }
  }

  test("validation: chain must be left-deep over already-joined tables") {
    assertThrows[IllegalArgumentException] {
      hashEx.join(ti("users", "uid"), ti("orders", "uid"))
        .join(ti("unknown", "k"), ti("users", "uid"))
    }
  }

  test("saveResult reports total / data_fetch / join timings (T1 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-res").toString
    val ex = hashEx.join(ti("users", "uid"), ti("orders", "uid"))
    val n = ex.saveResult("t1_timing", dir)
    assert(n == 3)
    val t = ex.getTimeElapsed
    assert(t.contains("total") && t.contains("data_fetch") && t.contains("join"))
    assert(t("total") > 0.0 && t("join") >= 0.0 && t("data_fetch") >= 0.0)
  }

  test("projection keeps selected + key columns only") {
    val res = hashEx
      .select("users", Seq("uid", "name"))
      .select("orders", Seq("uid"))
      .join(ti("users", "uid"), ti("orders", "uid"))
      .execute()
    assert(res.columns.toSet == Set("users__uid", "users__name", "orders__uid"))
  }

  test("projection and qualification treat a dotted column name as one column") {
    val l = Seq((1L, "x"), (2L, "y")).toDF("k.id", "a.b")
    val r = Seq((1L, 10.0), (3L, 30.0)).toDF("k.id", "v")
    val ex = new HashJoinExecutor(spark, new InMemoryResolver(Map("l" -> l, "r" -> r)))
      .select("l", Seq("k.id", "a.b"))
      .join(TableInfo("l", "k.id"), TableInfo("r", "k.id"))
      .filterBy(Condition(Condition.col("l", "a.b"), "=", "x"))
    val res = ex.execute()
    assert(res.columns.toSeq == Seq("l__k.id", "l__a.b", "r__k.id", "r__v"))
    assert(res.select(JoinExecutor.colRef("l__a.b")).as[String].collect().toSeq == Seq("x"))
    val dir = java.nio.file.Files.createTempDirectory("graft-res").toString
    assert(ex.saveResult("dotted", dir) == 1)
  }

  /** `users` / `orders` / a three-column `lineitem` as parquet tables in a
    * fresh directory, for the facade over [[ParquetResolver]].
    */
  private def parquetDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    users.write.parquet(s"$dir/users.parquet")
    orders.write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1, 5.0), (1L, 2, 7.0), (2L, 1, 3.0)).toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("ParquetResolver: a repeated facade op skips both tables' schema inference") {
    val dir = parquetDir()
    val res = java.nio.file.Files.createTempDirectory("graft-res").toString
    def op(): Unit = new HashJoinExecutor(spark, new ParquetResolver(dir))
      .join(ti("users", "uid"), ti("orders", "uid")).saveResult("repeat", res)
    val first = jobsOf(op())
    val second = jobsOf(op())
    assert(first - second == 2, s"first run $first jobs, second $second")
  }

  test("ParquetResolver: aliased composite self-join returns each line once") {
    val out = new HashJoinExecutor(spark, new ParquetResolver(parquetDir()))
      .join(TableInfo("lineitem", Seq("l_orderkey", "l_linenumber")),
        TableInfo("lineitem", Seq("l_orderkey", "l_linenumber"), Some("li2")))
      .execute()
      .select("lineitem__l_orderkey", "lineitem__l_linenumber", "li2__l_quantity")
      .as[(Long, Int, Double)].collect().sorted.toSeq
    assert(out == Seq((1L, 1, 5.0), (1L, 2, 7.0), (2L, 1, 3.0)))
  }
}
