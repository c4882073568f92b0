package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.frame.ModeledFrame
import graft.relation.{Database, Relation}

/** patito's own surface: model validation (clean and with injected
  * violations), the violation report, examples, the ModeledFrame verbs,
  * fluent Relation chains checked against the same query as SQL text, and a
  * minority of Database and CSV writes.
  */
final class ModelValidate(h: Harness, seed: Long) extends Workload {
  import Harness.ensure
  private val spark = h.spark
  private val gen = new Gen(spark, seed)

  val LineitemRows = 300000L
  val OrderRows = 75000L
  val CustomerRows = 7500L
  /** Slices are `l_orderkey % Slices` (lineitem) or `o_orderkey % Slices`. */
  val Slices = 8

  private val inj = Gen.Injected(
    quantity = gen.idSet("q", 240, LineitemRows),
    discount = gen.idSet("d", 160, LineitemRows),
    flag = gen.idSet("f", 120, LineitemRows),
    nullTax = gen.idSet("t", 400, LineitemRows))

  private def injectedIn(ids: Set[Long], slice: Int): Long =
    ids.count(r => (r / 4) % Slices == slice).toLong

  private def table(name: String) = spark.read.parquet(h.path(s"in/$name"))
  private var lineitem: DataFrame = _
  private var orders: DataFrame = _
  private var customer: DataFrame = _
  var inputs: Map[String, (Long, Long)] = Map.empty

  def setup(): Unit = {
    val write = Seq(
      "lineitem" -> (gen.lineitem(LineitemRows, inj), LineitemRows),
      "orders" -> (gen.orders(OrderRows, CustomerRows), OrderRows),
      "customer" -> (gen.customer(CustomerRows), CustomerRows))
    inputs = write.map { case (name, (df, rows)) =>
      df.repartition(4).write.parquet(h.path(s"in/$name"))
      name -> (rows, Harness.bytesUnder(h.state.resolve(s"in/$name")))
    }.toMap
    lineitem = table("lineitem"); orders = table("orders"); customer = table("customer")
    lineitem.createOrReplaceTempView("li"); orders.createOrReplaceTempView("ord")
    customer.createOrReplaceTempView("cust")
    customersOf = customer.groupBy("c_nationkey").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    lineitemsOf = lineitem.where(col("l_linenumber") <= 2)
      .groupBy((col("l_orderkey") % Slices).cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Rows per customer nation and per lineitem slice (line numbers 1 and 2):
    * what each CSV and table write stores.
    */
  private var customersOf = Map.empty[Int, Long]
  private var lineitemsOf = Map.empty[Int, Long]
  private var ingested = 0.0

  /** Input bytes of the rows the run's writes stored, at each table's
    * parquet bytes per row.
    */
  private def fed(table: String, rows: Long): Unit =
    ingested += rows * inputs(table)._2.toDouble / inputs(table)._1

  def ingestedBytes: Long = ingested.toLong
  override def extra: Map[String, Any] = Map(
    "injected" -> Map("quantity" -> inj.quantity.size, "discount" -> inj.discount.size,
      "flag" -> inj.flag.size, "null_tax" -> inj.nullTax.size))

  // ---- models ------------------------------------------------------------

  private val LineitemModel = Schema("LineItem", Seq(
    FieldSpec.long("l_orderkey"), FieldSpec.long("l_partkey"),
    FieldSpec.long("l_suppkey"), FieldSpec.int("l_linenumber"),
    FieldSpec.double("l_quantity").copy(bounds = Bounds(ge = Some(1), le = Some(50))),
    FieldSpec.double("l_extendedprice"),
    FieldSpec.double("l_discount").copy(bounds = Bounds(ge = Some(0), le = Some(0.1))),
    FieldSpec.double("l_tax", nullable = true),
    FieldSpec.enum("l_returnflag", Seq("A", "N", "R")),
    FieldSpec.enum("l_linestatus", Seq("O", "F")),
    FieldSpec("l_shipdate", TimestampType)))

  private val OrdersModel = Schema("Orders", Seq(
    FieldSpec.long("o_orderkey").copy(unique = true), FieldSpec.long("o_custkey"),
    FieldSpec.enum("o_orderstatus", Seq("O", "F", "P")),
    FieldSpec.double("o_totalprice").copy(bounds = Bounds(gt = Some(0))),
    FieldSpec("o_orderdate", TimestampType), FieldSpec.string("o_orderpriority")))

  private val CustomerModel = Schema("Customer", Seq(
    FieldSpec.long("c_custkey"), FieldSpec.string("c_name"),
    FieldSpec.int("c_nationkey").copy(bounds = Bounds(ge = Some(0), lt = Some(25))),
    FieldSpec.double("c_acctbal"), FieldSpec.enum("c_mktsegment", Gen.Segments)))

  private val ExampleModel = Schema("Example", Seq(
    FieldSpec.long("id").copy(unique = true),
    FieldSpec.enum("status", Seq("a", "b", "c")),
    FieldSpec.double("score").copy(default = Some(0.5),
      bounds = Bounds(ge = Some(0), le = Some(1))),
    FieldSpec.string("note", nullable = true)))

  // ---- the op cycle ------------------------------------------------------

  // every op kind, two Relation chains and a second Database write, so the
  // write median stays on the Database path. Inputs never change and every
  // write has its own target, so checks wait until the loop ends.
  h.deferChecks = true
  private val round: IndexedSeq[Int => Unit] = IndexedSeq(
    validateInvalid, dbWrite, chain, castOp, csvWrite, readCsv, validateClean, dbWrite,
    report, chain, deriveOp, examplesOp, fillOp, getOp)

  def step(i: Int): Unit = round(i % round.size)(i)
  def roundOps: Int = round.size
  /** Four rounds run each of the eight chain shapes once. */
  def cycleOps: Int = 4 * round.size

  private def slice(i: Int): Int = ((seed + i) % Slices).toInt
  private def liSlice(s: Int) = lineitem.where(col("l_orderkey") % Slices === s)

  private def validateInvalid(i: Int): Unit = {
    val s = slice(i)
    h.op("core.validate_invalid", Read) {
      val errs =
        try { Validator.validate(liSlice(s), LineitemModel); Seq.empty[ErrorDetail] }
        catch { case e: ValidationError => e.errors }
      () => {
        val expected = Seq(
          "l_quantity" -> injectedIn(inj.quantity, s),
          "l_discount" -> injectedIn(inj.discount, s)).filter(_._2 > 0)
          .map { case (c, n) => c -> s"$n row${if (n == 1) "" else "s"} with out of bound values." } ++
          (if (injectedIn(inj.flag, s) > 0) Seq("l_returnflag" -> "Rows with invalid values: {'X'}.")
           else Nil)
        val got = errs.map(e => e.loc -> e.msg)
        ensure(got.toSet == expected.toSet, s"errors $got, expected $expected")
      }
    }
  }

  private def validateClean(i: Int): Unit = {
    val s = slice(i)
    h.op("core.validate", Read) {
      if (i % 2 == 0) Validator.validate(orders.where(col("o_orderkey") % Slices === s), OrdersModel)
      else Validator.validate(customer, CustomerModel)
      () => ()
    }
  }

  private def report(i: Int): Unit = {
    val s = slice(i)
    h.op("core.report", Read) {
      val df = Validator.reportDF(liSlice(s), LineitemModel)
      h.noop(df)
      () => {
        val got = df.collect().groupBy(_.getString(0)).map { case (loc, rs) =>
          loc -> rs.map(_.getLong(2)).sum }
        val want = Map("l_quantity" -> injectedIn(inj.quantity, s),
          "l_discount" -> injectedIn(inj.discount, s),
          "l_returnflag" -> injectedIn(inj.flag, s))
        got.foreach { case (loc, n) =>
          ensure(n == want.getOrElse(loc, 0L), s"report $loc=$n, expected ${want.getOrElse(loc, 0L)}")
        }
        ensure(want.filter(_._2 > 0).keys.forall(got.contains), s"report misses a column: $got")
      }
    }
  }

  private def examplesOp(i: Int): Unit = {
    val n = 20000L + i
    h.op("core.examples", Read) {
      val df = Examples.examples(spark, ExampleModel, n = n)
      h.noop(df)
      () => {
        ensure(df.count() == n, "examples row count")
        ensure(Validator.isValid(df, ExampleModel), "examples violate their model")
      }
    }
  }

  private def castOp(i: Int): Unit = {
    val s = slice(i)
    val raw = orders.where(col("o_orderkey") % Slices === s)
      .withColumn("o_totalprice", col("o_totalprice").cast("string"))
      .withColumn("o_custkey", col("o_custkey").cast("string"))
    h.op("frame.cast", Read) {
      val df = ModeledFrame(raw, OrdersModel).cast().df
      h.noop(df)
      () => {
        ensure(df.schema("o_totalprice").dataType == DoubleType &&
          df.schema("o_custkey").dataType == LongType, s"cast types ${df.schema}")
        val base = orders.where(col("o_orderkey") % Slices === s)
        ensure(Harness.fingerprint(df) == Harness.fingerprint(base), "cast changed values")
      }
    }
  }

  private def deriveOp(i: Int): Unit = {
    val s = slice(i)
    val model = Schema("LineItemNet", LineitemModel.fields ++ Seq(
      FieldSpec("net", DecimalType(18, 2)).copy(derivedFrom = Some(Right(
        col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))),
      FieldSpec("net_cents", LongType).copy(derivedFrom = Some(Right(col("net") * 100)))))
    h.op("frame.derive", Read) {
      val df = ModeledFrame(liSlice(s), model).derive().df
      h.noop(df)
      () => {
        val got = df.agg(sum(col("net_cents"))).head().getLong(0)
        val want = spark.sql(
          s"""SELECT cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
             |  (1 - cast(l_discount as decimal(18,2))) as decimal(18,2)) * 100) as bigint)
             |FROM li WHERE l_orderkey % $Slices = $s""".stripMargin).head().getLong(0)
        ensure(got == want, s"derived total $got, expected $want")
      }
    }
  }

  private def fillOp(i: Int): Unit = {
    val s = slice(i)
    val model = Schema("LineItemFill", LineitemModel.fields.map(f =>
      if (f.name == "l_tax") f.copy(default = Some(-1.0)) else f))
    h.op("frame.fill", Read) {
      val df = ModeledFrame(liSlice(s), model).fillNullDefaults().df
      h.noop(df)
      () => {
        val r = df.agg(sum(when(col("l_tax").isNull, 1L).otherwise(0L)),
          sum(when(col("l_tax") === -1.0, 1L).otherwise(0L))).head()
        ensure(r.getLong(0) == 0L, "nulls left after fill")
        ensure(r.getLong(1) == injectedIn(inj.nullTax, s),
          s"filled ${r.getLong(1)}, expected ${injectedIn(inj.nullTax, s)}")
      }
    }
  }

  private def getOp(i: Int): Unit = {
    val key = (seed * 7919L + i * 104729L) % OrderRows
    h.op("frame.get", Read) {
      val row = ModeledFrame(orders, OrdersModel).get(col("o_orderkey") === key)
      () => {
        val want = spark.sql(s"SELECT * FROM ord WHERE o_orderkey = $key").collect()
        ensure(want.length == 1 && want.head == row, s"get($key) = $row, expected ${want.toSeq}")
      }
    }
  }

  private var lastCsv: Option[(String, Int)] = None

  private def csvWrite(i: Int): Unit = {
    val nation = (i % 25)
    val dir = h.path(s"csv/customer_$i")
    h.op("frame.csv_write", Write) {
      customer.where(col("c_nationkey") === nation)
        .write.option("header", "true").csv(dir)
      lastCsv = Some((dir, nation))
      fed("customer", customersOf(nation))
      () => {
        val back = spark.read.option("header", "true").csv(dir).count()
        val want = spark.sql(s"SELECT count(*) FROM cust WHERE c_nationkey = $nation").head().getLong(0)
        ensure(back == want, s"csv rows $back, expected $want")
      }
    }
  }

  private def readCsv(i: Int): Unit = {
    val (dir, nation) = lastCsv.get
    h.op("frame.read_csv", Read) {
      val df = ModeledFrame.readCsv(spark, dir, CustomerModel).selectModel().df
      h.noop(df)
      () => {
        ensure(df.schema.map(_.dataType) == CustomerModel.fields.map(_.dataType),
          s"csv types ${df.schema}")
        val want = customer.where(col("c_nationkey") === nation)
        ensure(Harness.fingerprint(df) == Harness.fingerprint(want), "csv read-back differs")
      }
    }
  }

  private def dbWrite(i: Int): Unit = {
    val name = s"lineitem_t$i"
    val s = slice(i)
    h.op("relation.db_write", Write) {
      h.spans("relation.db_write") {
        val db = new Database(spark)
        Relation(liSlice(s).where(col("l_linenumber") === 1)).createTable(name)
        Relation(liSlice(s).where(col("l_linenumber") === 2)
          .select(LineitemModel.columns.reverse.map(col): _*)).insertInto(name)
        ensure(db.contains(name), s"table $name missing")
      }
      fed("lineitem", lineitemsOf(s))
      () => {
        val want = spark.sql(
          s"SELECT * FROM li WHERE l_orderkey % $Slices = $s AND l_linenumber IN (1, 2)")
        ensure(Harness.fingerprint(spark.table(name)) == Harness.fingerprint(want),
          s"table $name differs from its inputs")
      }
    }
  }

  // ---- Relation chains, each with its SQL twin ----------------------------

  private def rel(df: DataFrame) = Relation(df)
  private def dsum(e: String) = s"cast(sum(cast($e as decimal(18,2))) as double)"

  private def chains(p: Int): IndexedSeq[(() => DataFrame, String, Boolean)] = IndexedSeq(
    (() => rel(lineitem).filter(s"l_quantity < ${10 + p}")
      .aggregate(Seq(s"${dsum("l_quantity")} as sum_qty",
        s"${dsum("l_extendedprice")} as sum_price", "cast(count(*) as bigint) as n"),
        groupBy = Seq("l_returnflag", "l_linestatus"))
      .order("l_returnflag", "l_linestatus").toDF,
      s"""SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty,
         |${dsum("l_extendedprice")} AS sum_price, cast(count(*) as bigint) AS n
         |FROM li WHERE l_quantity < ${10 + p} GROUP BY l_returnflag, l_linestatus""".stripMargin,
      false),
    (() => rel(lineitem).filter(s"l_quantity < ${4 + p}", "l_discount > 0.02")
      .filterEq("l_returnflag" -> "A")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .order("l_orderkey", "l_linenumber").toDF,
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM li
         |WHERE l_quantity < ${4 + p} AND l_discount > 0.02 AND l_returnflag = 'A'""".stripMargin,
      false),
    (() => rel(orders).innerJoin(rel(customer), "o_custkey = c_custkey")
      .filter(s"o_orderkey % 8 = ${p % 8}")
      .aggregate(Seq(s"${dsum("o_totalprice")} as total", "cast(count(*) as bigint) as n"),
        groupBy = Seq("c_mktsegment"))
      .order("c_mktsegment").toDF,
      s"""SELECT c_mktsegment, ${dsum("o_totalprice")} AS total, cast(count(*) as bigint) AS n
         |FROM ord JOIN cust ON o_custkey = c_custkey WHERE o_orderkey % 8 = ${p % 8}
         |GROUP BY c_mktsegment""".stripMargin,
      false),
    (() => rel(customer).filter(s"c_nationkey = ${p % 25}")
      .leftJoin(rel(orders), "c_custkey = o_custkey")
      .aggregate(Seq("cast(count(o_orderkey) as bigint) as n_orders"), groupBy = Seq("c_custkey"))
      .order("c_custkey").toDF,
      s"""SELECT c_custkey, cast(count(o_orderkey) as bigint) AS n_orders
         |FROM cust LEFT JOIN ord ON c_custkey = o_custkey WHERE c_nationkey = ${p % 25}
         |GROUP BY c_custkey""".stripMargin,
      false),
    (() => rel(customer).semiJoin(rel(orders).filter(s"o_totalprice > ${390000 + p * 100}"),
      "c_custkey = o_custkey").select("c_custkey", "c_name").order("c_custkey").toDF,
      s"""SELECT c_custkey, c_name FROM cust LEFT SEMI JOIN
         |(SELECT * FROM ord WHERE o_totalprice > ${390000 + p * 100}) o
         |ON c_custkey = o.o_custkey""".stripMargin,
      false),
    (() => rel(orders).caseColumn("o_orderstatus", "status_label",
      Seq("O" -> "open", "F" -> "finished"), "other")
      .filter(s"o_orderkey % 4 = ${p % 4}")
      .aggregate(Seq("cast(count(*) as bigint) as n"), groupBy = Seq("status_label"))
      .order("status_label").toDF,
      s"""SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
         |ELSE 'other' END AS status_label, cast(count(*) as bigint) AS n FROM ord
         |WHERE o_orderkey % 4 = ${p % 4} GROUP BY 1""".stripMargin,
      false),
    (() => rel(orders).select("o_orderkey", "o_totalprice")
      .order("o_totalprice desc", "o_orderkey").limit(20, offset = p % 10).toDF,
      s"""SELECT o_orderkey, o_totalprice FROM ord ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 20 OFFSET ${p % 10}""".stripMargin,
      true),
    (() => rel(lineitem).filter(s"l_orderkey % 16 = ${p % 16}")
      .withColumns("d0" -> "nullif(l_discount, 0.0)")
      .coalesceColumns("d0" -> -1.0)
      .select("l_orderkey", "l_linenumber", "d0").distinct()
      .order("l_orderkey", "l_linenumber").toDF,
      s"""SELECT DISTINCT l_orderkey, l_linenumber, coalesce(nullif(l_discount, 0.0), -1.0) AS d0
         |FROM li WHERE l_orderkey % 16 = ${p % 16}""".stripMargin,
      false))

  private var chainNo = 0

  private def chain(i: Int): Unit = {
    val all = chains(((seed + i) % 97).toInt)
    val (build, sqlText, ordered) = all(chainNo % all.size)
    chainNo += 1
    h.op("relation.chain", Read) {
      val df = h.spans("relation.build") { val d = build(); d.queryExecution.analyzed; d }
      h.spans("relation.exec")(h.noop(df))
      () => {
        val want = spark.sql(sqlText)
        if (ordered) ensure(df.collect().toSeq == want.collect().toSeq, s"ordered chain differs: $sqlText")
        else ensure(Harness.fingerprint(df) == Harness.fingerprint(want), s"chain differs: $sqlText")
      }
    }
  }
}
