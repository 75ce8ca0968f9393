package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic e-commerce data generator — the Spark-native port of the
  * reference's one non-notebook program (`reference/src/generate_data.py:1-338`:
  * SEED=42, 10k customers / 2k products / 100k orders, Swedish locale,
  * lognormal prices, Zipf-weighted product popularity, categorical
  * payment/status/quantity/discount mixes, order dates on/after signup).
  *
  * NOT a row-loop port: the reference generates row-by-row on one core
  * through a mutable RNG; here every table is `spark.range(n)` plus pure
  * seeded-hash column expressions (counter-based RNG: each row's randomness
  * derives from `xxhash64(seed, salt, id)`), so generation is embarrassingly
  * parallel, deterministic under any partitioning, and scales to any row
  * count a cluster can hold. Distribution substitutions (each standard for
  * counter-based generation, all shape-asserted in DataGenSpec):
  *  - normal draws via Box–Muller over two uniform hashes;
  *  - Poisson(120) stock via its normal approximation (λ is large);
  *  - Zipf(1/k) product popularity via the inverse-CDF approximation
  *    k ≈ exp(u·H_n − γ), exact enough to reproduce the head-heavy shape;
  *  - per-order distinct product draws via oversample + array_distinct
  *    (the reference's replace=False), capped at n_items.
  */
object DataGen {

  val Seed = 42L

  /** The reference's published scale: 10k / 2k / 100k (generate_data.py:35-38). */
  final case class Config(nCustomers: Long = 10000L, nProducts: Long = 2000L,
                          nOrders: Long = 100000L, minItems: Int = 1,
                          maxItems: Int = 6, startDate: String = "2023-01-01",
                          spanDays: Int = 3 * 365, seed: Long = Seed)

  /** Authoritative product_type -> category mapping
    * (generate_data.py:80-117) — the contract the reference's validator
    * checks; preserved verbatim as the data vocabulary. */
  val ProductTypeToCategory: Seq[(String, String)] = Seq(
    "Shampoo" -> "Shampoo", "Conditioner" -> "Conditioner",
    "Hair Mask" -> "Hair Mask", "Leave-in Treatment" -> "Hair Treatment",
    "Scalp Serum" -> "Hair Treatment", "Dry Shampoo" -> "Shampoo",
    "Hair Oil" -> "Hair Treatment", "Hair Serum" -> "Hair Treatment",
    "Body Lotion" -> "Body Care", "Body Wash" -> "Body Care",
    "Body Scrub" -> "Body Care", "Hand Cream" -> "Hand Care",
    "Face Cleanser" -> "Face Care", "Face Cream" -> "Face Care",
    "Face Serum" -> "Face Care", "Toner" -> "Face Care",
    "BB Cream" -> "Face Care", "Foundation" -> "Makeup",
    "Blush" -> "Makeup", "Mascara" -> "Makeup", "Lip Balm" -> "Makeup",
    "Lipstick" -> "Makeup", "Nail Polish" -> "Nail Care",
    "Base Coat" -> "Nail Care", "Top Coat" -> "Nail Care",
    "Cuticle Oil" -> "Nail Care", "Nail Strengthener" -> "Nail Care",
    "Nail File" -> "Nail Tools", "Nail Clippers" -> "Nail Tools",
    "Nail Brush" -> "Nail Tools")

  private val Cities = Seq("Stockholm", "Göteborg", "Malmö", "Uppsala",
    "Västerås", "Örebro", "Linköping", "Helsingborg", "Jönköping",
    "Norrköping", "Lund", "Umeå", "Gävle", "Borås", "Södertälje",
    "Eskilstuna", "Halmstad", "Växjö", "Karlstad", "Täby")

  private val FirstNames = Seq("Anna", "Erik", "Maria", "Lars", "Karin",
    "Anders", "Eva", "Johan", "Birgitta", "Per", "Elisabeth", "Nils",
    "Ingrid", "Karl", "Kerstin", "Mikael", "Lena", "Jan", "Sara", "Hans")

  private val LastNames = Seq("Andersson", "Johansson", "Karlsson",
    "Nilsson", "Eriksson", "Larsson", "Olsson", "Persson", "Svensson",
    "Gustafsson", "Pettersson", "Jonsson", "Jansson", "Hansson", "Bengtsson")

  private val Adjectives = Seq("Hydra", "Silk", "Pure", "Gentle", "Revive",
    "Nourish", "Balance", "Glow", "Radiant", "Calming", "Repair",
    "Botanical", "Fresh", "Velvet", "Luxe", "Bright", "Soothing",
    "Clarifying")

  private val BottleSizes =
    Seq("30ml", "50ml", "75ml", "100ml", "150ml", "200ml", "250ml")

  private val PaymentTypes = Seq("card", "invoice", "paypal", "swish")
  private val PaymentProbs = Seq(0.60, 0.15, 0.15, 0.10)
  private val OrderStatuses = Seq("completed", "cancelled", "returned")
  private val StatusProbs = Seq(0.95, 0.03, 0.02)

  /** Counter-based uniform in [0, 1): 40 mantissa-safe bits of a seeded
    * xxhash64 of (seed, salt, key). Independent salts give independent
    * streams; the same (seed, salt, key) always yields the same value, on
    * every partitioning. */
  private def u(seed: Long, salt: String, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  /** Standard normal via Box–Muller over two independent uniform streams
    * (u1 nudged off 0 so ln() stays finite). */
  private def gauss(seed: Long, salt: String, key: Column): Column = {
    val u1 = u(seed, salt + "_g1", key) + lit(1e-12)
    val u2 = u(seed, salt + "_g2", key)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** Categorical draw: inverse CDF over literal probabilities. */
  private def pick(seed: Long, salt: String, key: Column,
                   values: Seq[String], probs: Seq[Double]): Column = {
    val cdf = probs.scanLeft(0.0)(_ + _).tail
    val uu = u(seed, salt, key)
    values.zip(cdf).dropRight(1).foldRight(lit(values.last): Column) {
      case ((v, c), rest) => when(uu < c, v).otherwise(rest)
    }
  }

  /** Uniform element choice from a literal list. */
  private def choice(seed: Long, salt: String, key: Column,
                     values: Seq[String]): Column =
    element_at(lit(values.toArray),
      (floor(u(seed, salt, key) * values.size) + 1).cast("int"))

  /** customers(customer_id, first_name, last_name, email, signup_date,
    * city, age) — age ~ clip(N(35,10), 18, 90), signup uniform in the span
    * (generate_data.py:133-155). */
  def customers(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val id = col("id")
    spark.range(1, cfg.nCustomers + 1)
      .select(id.as("customer_id"),
        choice(cfg.seed, "first", id, FirstNames).as("first_name"),
        choice(cfg.seed, "last", id, LastNames).as("last_name"),
        concat(lit("user"), id.cast("string"), lit("@example.com")).as("email"),
        date_add(to_date(lit(cfg.startDate)),
          floor(u(cfg.seed, "signup", id) * (cfg.spanDays + 1)).cast("int"))
          .as("signup_date"),
        choice(cfg.seed, "city", id, Cities).as("city"),
        greatest(lit(18), least(lit(90),
          round(lit(35.0) + lit(10.0) * gauss(cfg.seed, "age", id))
            .cast("int"))).as("age"))
  }

  /** products(product_id, product_name, product_type, category, price,
    * cost, available_stock) — price ~ round(LogNormal(2.8, 0.8), 2), cost
    * uniform 40–70% of price, stock ~ Poisson(120) via normal approximation
    * (generate_data.py:168-210). The category column applies the
    * authoritative mapping as a literal map lookup. */
  def products(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    val id = col("id")
    val types = ProductTypeToCategory.map(_._1)
    val catMap = map(ProductTypeToCategory.flatMap {
      case (t, c) => Seq(lit(t), lit(c))
    }: _*)
    spark.range(1, cfg.nProducts + 1)
      .select(id.as("product_id"),
        choice(cfg.seed, "ptype", id, types).as("product_type"),
        round(exp(lit(2.8) + lit(0.8) * gauss(cfg.seed, "price", id)), 2)
          .as("price"),
        u(cfg.seed, "costf", id).as("cost_u"),
        greatest(lit(0), round(lit(120.0) +
          sqrt(lit(120.0)) * gauss(cfg.seed, "stock", id)).cast("int"))
          .as("available_stock"),
        concat_ws(" ", choice(cfg.seed, "adj", id, Adjectives),
          choice(cfg.seed, "ptype", id, types),
          choice(cfg.seed, "size", id, BottleSizes)).as("product_name"))
      .select(col("product_id"), col("product_name"), col("product_type"),
        catMap(col("product_type")).as("category"), col("price"),
        round(col("price") * (lit(0.40) + lit(0.30) * col("cost_u")), 2)
          .as("cost"),
        col("available_stock"))
  }

  /** Zipf(1/k) rank draw over [1, n] by inverse-CDF approximation:
    * H(k) ≈ ln(k) + γ, so k ≈ exp(u·H_n − γ); clipped to the domain. The
    * head-heavy 1/k shape survives (DataGenSpec asserts the top-rank share),
    * which is what the popularity skew exists to model. */
  private def zipfRank(seed: Long, salt: String, key: Column, n: Long): Column = {
    val gamma = 0.5772156649015329
    val hn = math.log(n.toDouble) + gamma
    greatest(lit(1L), least(lit(n),
      floor(exp(u(seed, salt, key) * hn - gamma) + 0.5).cast("long")))
  }

  /** orders + order_items in one pass (generate_data.py:252-316):
    * per order a customer uniform in [1, nCustomers], order_date uniform in
    * [signup, end] (requires one broadcast-sized dimension join on the
    * customer), payment/status categorical draws, item count with the
    * reference's [0.50,.25,.15,.07,.02,.01] mix, Zipf-popular DISTINCT
    * products per order, quantity/discount mixes, line totals rounded at
    * 2 dp and total_amount their sum. Returns (orders, order_items).
    * `shared` maps the scored-item frame BOTH outputs derive from, so a
    * caller consuming both (e.g. [[writeCsvDataset]]) can cache exactly
    * that frame and pay the generation cost once. */
  def ordersAndItems(spark: SparkSession, cfg: Config = Config(),
                     shared: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    // the item-count mix covers 6 basket sizes (generate_data.py:262); a
    // wider configured range would silently zip away the extra sizes
    require(cfg.maxItems - cfg.minItems + 1 <= 6,
      s"item-count range [${cfg.minItems}, ${cfg.maxItems}] exceeds the 6-entry probability mix")
    val custs = customers(spark, cfg).select(
      col("customer_id"), col("signup_date"))
    val prods = products(spark, cfg).select(col("product_id"), col("price"))
    val id = col("id")
    val endDate = date_add(to_date(lit(cfg.startDate)), cfg.spanDays)
    val itemProbs = Seq(0.50, 0.25, 0.15, 0.07, 0.02, 0.01)
      .take(cfg.maxItems - cfg.minItems + 1)
    val itemVals = (cfg.minItems to cfg.maxItems).map(_.toString)
    val base = spark.range(1, cfg.nOrders + 1)
      .select(id.as("order_id"),
        (floor(u(cfg.seed, "ocust", id) * cfg.nCustomers) + 1)
          .cast("long").as("customer_id"),
        pick(cfg.seed, "pay", id, PaymentTypes, PaymentProbs).as("payment_type"),
        pick(cfg.seed, "status", id, OrderStatuses, StatusProbs).as("status"),
        pick(cfg.seed, "nitems", id, itemVals,
          itemProbs.map(_ / itemProbs.sum)).cast("int").as("n_items"),
        u(cfg.seed, "odate", id).as("date_u"))
      .join(custs, Seq("customer_id"))
      .withColumn("order_date",
        date_add(col("signup_date"),
          floor(col("date_u") *
            (datediff(endDate, col("signup_date")) + 1)).cast("int")))
    // distinct Zipf product draws: oversample 3x maxItems independent
    // ranks, dedupe, keep the first n_items (the counter-based analogue of
    // the reference's replace=False choice)
    val draws = (0 until cfg.maxItems * 3).map(j =>
      zipfRank(cfg.seed, s"prod$j", col("order_id"), cfg.nProducts))
    val items = shared(base.select(col("order_id"),
        slice(array_distinct(array(draws: _*)), lit(1), col("n_items")).as("pids"))
      .select(col("order_id"), posexplode(col("pids")).as(Seq("pos", "product_id")))
      .join(prods, Seq("product_id"))
      .select(col("order_id"), col("pos"), col("product_id"),
        // per-line RNG key: stride by at least maxItems+1 so keys never
        // collide across orders (8 preserved as the floor so default-config
        // outputs are bit-stable with earlier releases)
        pick(cfg.seed, "qty",
          col("order_id") * math.max(8, cfg.maxItems + 1) + col("pos"),
          Seq("1", "2", "3"), Seq(0.80, 0.15, 0.05)).cast("int").as("quantity"),
        pick(cfg.seed, "disc",
          col("order_id") * math.max(8, cfg.maxItems + 1) + col("pos"),
          Seq("0.0", "0.05", "0.1"), Seq(0.90, 0.08, 0.02)).cast("double")
          .as("discount"),
        col("price"))
      .select(col("order_id"), col("pos"), col("product_id"), col("quantity"),
        round(col("price") * (lit(1.0) - col("discount")), 2).as("unit_price"))
      .withColumn("line_total", round(col("quantity") * col("unit_price"), 2)))
    // stable global item id: (order_id, pos) is unique; the dense
    // sequential id of the reference is an artifact of its row loop — a
    // deterministic composite key is the distributed equivalent
    val orderItems = items.select(
      (col("order_id") * cfg.maxItems + col("pos")).as("order_item_id"),
      col("order_id"), col("product_id"), col("quantity"),
      col("unit_price"), col("line_total"))
    val totals = items.groupBy("order_id")
      .agg(round(sum(col("line_total")), 2).as("total_amount"))
    val orders = base.join(totals, Seq("order_id"))
      .select(col("order_id"), col("customer_id"), col("order_date"),
        col("total_amount"), col("payment_type"), col("status"))
    (orders, orderItems)
  }

  /** Write the full raw dataset as headered CSV directories + the metadata
    * manifest — the reference generator's output contract
    * (generate_data.py:250-338: orders and order_items stream to their two
    * CSVs in ONE generation pass), re-expressed Spark-first: the shared
    * order lineage is persisted once and both dependent tables write from
    * it, so generation cost is paid once, not per sink. Column names and
    * types line up with [[Ingest.schemas]], so [[Ingest.run]] consumes this
    * directory directly — generator → CSV → quality gate → lake is a
    * closed, fully in-engine loop. */
  def writeCsvDataset(spark: SparkSession, dir: String,
                      cfg: Config = Config()): Unit = {
    def csv(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true")
        .csv(s"$dir/$name.csv")
    csv(customers(spark, cfg), "customers")
    csv(products(spark, cfg), "products")
    // the scope releases exactly the shared entry — the caller's own
    // caches stay untouched
    graft.ops.Caching.scoped { scope =>
      val (orders, items) = ordersAndItems(spark, cfg, scope.materialize(_))
      csv(items, "order_items")
      csv(orders, "orders")
    }
    Ingest.writeManifest(spark, s"$dir/metadata.json",
      Map("customers" -> cfg.nCustomers, "products" -> cfg.nProducts,
        "orders" -> cfg.nOrders),
      generatedAt = s"seed-${cfg.seed}")
  }

  /** One-row generation manifest mirroring the reference's metadata.json
    * (generate_data.py:320-330), minus the wall-clock timestamp (a
    * deterministic artifact should not embed one). */
  def metadata(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    Seq((cfg.seed, cfg.nCustomers, cfg.nProducts, cfg.nOrders,
      cfg.minItems, cfg.maxItems))
      .toDF("seed", "n_customers", "n_products", "n_orders",
        "min_items_per_order", "max_items_per_order")
  }
}
