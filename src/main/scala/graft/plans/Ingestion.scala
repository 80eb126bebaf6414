package graft.plans

import graft.{functions => gf}
import graft.Checkpoints.TrackedCheckpointOps
import graft.operators.Relational
import graft.sources.XlsxSource
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The warehouse star schema produced by [[Ingestion]] — the reference's
  * Postgres schema (`database_utils.py:70-79,103-110,156-168,192-201,
  * 232-238,266-280`) held as DataFrames (parquet-backed managed tables in
  * production; fact/dim split drives broadcast planning).
  */
case class Warehouse(
    paymentType: DataFrame, // id_payment_type, payment_type
    store: DataFrame,       // id_store, store_name, store_url, status
    provider: DataFrame,    // id_provider, id_store, provider_url, is_active
    product: DataFrame,     // id_product, product_name, description, image_url, brand, category
    purchase: DataFrame,    // id_purchase, id_provider, id_payment_type, total, tax, ieps,
                            //   purchase_date, delivery_date, exchange_rate, shipping_cost, discount
    operation: DataFrame,   // id_purchase, id_product, quantity, unit_price, unit_price_usd,
                            //   discount_percentage, pieces_per_unit, final_cost, product_url
    price: DataFrame) {     // id_product, price, offer_price, start_date, end_date

  /** Every table under its warehouse name, in constructor order (the
    * order [[WarehouseStore]] writes them in).
    */
  def tables: Seq[(String, DataFrame)] = Seq(
    "payment_type" -> paymentType, "store" -> store, "provider" -> provider,
    "product" -> product, "purchase" -> purchase, "operation" -> operation,
    "price" -> price)
}

/** Pipeline 2 of the reference (`import_files_to_postgre.py`, SURVEY.md
  * §3.2) re-expressed as ONE lazy set-oriented plan per batch of workbook
  * files — where the reference runs ≥5 SQL round-trips per row
  * (`import_files_to_postgre.py:145-227`), this runs a fixed number of
  * joins per BATCH regardless of row count.
  *
  * Stage map (reference → here):
  *  - openpyxl hyperlink walk + pandas double parse → one [[XlsxSource]]
  *    scan per sheet (values + hyperlinks together)
  *  - `deep_clean_data` (`:120-132`) → conform projections (safe_float /
  *    normalize_null / date casts)
  *  - `Picture_URL` positional zip (`:261`) → `_rownum` equi-join (W3)
  *  - `previous_link` carry (`:143-153`) → lag window (W1, one-row
  *    lookback: the reference re-assigns previous_link to the row's own
  *    possibly-empty Liga AFTER use, so a blank inherits only from the
  *    immediately-previous row — see SURVEY.md §7.3)
  *  - get_or_create store/provider (`database_utils.py:57-113`) → dim
  *    anti-join + surrogate assignment (J4); the provider-liveness HEAD
  *    probe (`verify_url`, `utils_tools.py:92-108`) is a side-effecting
  *    call that must NOT live in a query plan — is_active defaults TRUE
  *    here and a separate quarantined enrichment stage may update it
  *  - create_product + operation/purchase match (`database_utils.py:
  *    115-173`) → product dim upsert + exact-duplicate anti-join gate (J5)
  *  - insert_purchase/insert_operations (`:175-245`) → fact appends with
  *    deterministic surrogate ids
  *  - insert_price SCD upsert (`:260-280`) → [[scdMerge]]
  *
  * The batch's plan runs once. The scan-to-store-resolution frame
  * (brand, category and price row joined on from one first-row pass
  * over Precios) is pinned behind one tracked checkpoint; the
  * new stores, providers, products and surviving facts are derived from
  * it and the existing tables alone. Providers are keyed by (store_name,
  * provider_url) — store_name is 1:1 with id_store — so they do not wait
  * for new store ids.
  *
  * Surrogate ids are `max(existing) + rank` over (file, rownum) —
  * deterministic, matching the reference's sequence order. The four
  * new-key sets are unioned under a `__kind` stratum and ranked in ONE
  * [[Relational.withStratumRankN]] pass (range-partitioned: no
  * single-partition window, however large the batch); each kind's
  * offset is its max(existing id), from one grouped aggregate over the
  * four tables, broadcast-joined to the new keys on the kind before the
  * rank (never collected, so the generated code carries no per-commit
  * literal and a drop directory's commits reuse one set of compiled
  * classes). Ids are then resolved
  * against existing ∪ new dims and the result is pinned once: every
  * table the batch writes reads that frame plus its own existing table,
  * never the scan.
  */
object Ingestion {

  /** Seed warehouse: the payment-type catalog the reference assumes
    * pre-exists (`CAT_PAYMENT_TYPE`, `database_utils.py:29-37`; constant
    * lookup key "Tarjeta de Crédito" at `import_files_to_postgre.py:183`).
    */
  def empty(spark: SparkSession): Warehouse = {
    import spark.implicits._
    Warehouse(
      paymentType = Seq((1L, "Tarjeta de Crédito"))
        .toDF("id_payment_type", "payment_type"),
      store = Seq.empty[(Long, String, String, Boolean)]
        .toDF("id_store", "store_name", "store_url", "status"),
      provider = Seq.empty[(Long, Long, String, Boolean)]
        .toDF("id_provider", "id_store", "provider_url", "is_active"),
      product = Seq.empty[(Long, String, String, String, String, String)]
        .toDF("id_product", "product_name", "description", "image_url", "brand", "category"),
      purchase = Seq.empty[(Long, Long, Long, Double, Double, Double, java.sql.Date, String, Double, Double, Double)]
        .toDF("id_purchase", "id_provider", "id_payment_type", "total", "tax", "ieps",
          "purchase_date", "delivery_date", "exchange_rate", "shipping_cost", "discount"),
      operation = Seq.empty[(Long, Long, Int, Double, Double, Double, Int, Double, String)]
        .toDF("id_purchase", "id_product", "quantity", "unit_price", "unit_price_usd",
          "discount_percentage", "pieces_per_unit", "final_cost", "product_url"),
      price = Seq.empty[(Long, Double, Double, java.sql.Date, java.sql.Date)]
        .toDF("id_product", "price", "offer_price", "start_date", "end_date"))
  }

  /** Ingest every .xlsx under `path` into `existing`, returning the new
    * warehouse state. Batch-idempotent: re-running over already-ingested
    * files is a no-op for facts (the J5 gate), matching the reference's
    * transactional replay safety (SURVEY.md §4.2).
    */
  def ingestWorkbooks(spark: SparkSession, path: String,
                      existing: Warehouse): Warehouse = {
    val batchDate = current_date() // CURRENT_DATE of the SCD merge

    // ---- scan (S2/S3): values + hyperlinks in one parse per sheet ----
    val compras0 = XlsxSource.read(spark, path, "Compras")
    val precios0 = XlsxSource.read(spark, path, "Precios", hyperlinkCols = Seq("Preview"))

    // ---- conform (deep_clean_data, `import_files_to_postgre.py:120-132`)
    val compras = conform(compras0,
      numeric = Seq("Cant", "Precio", "% Desc", "C. Unit US", "C. Unit", "Total Cmpr",
        "Envio", "Dólar", "Desct", "Pzs", "Costo Final"),
      dates = Seq("Fch Cmpr"))
    val precios = conform(precios0,
      numeric = Seq("P. Tienda", "C. Unit", "P. Venta", "P. Oferta"),
      dates = Seq.empty)

    // ---- W3 positional zip (`:261`): Precios!Preview hyperlink list
    // aligned to Compras rows by position within the same file. A Preview
    // cell WITHOUT a hyperlink contributes "" (extract_hyperlinks appends
    // "" per row, `import_files_to_postgre.py:59-60`, and deep_clean does
    // NOT null empty strings); only positions past the Precios row count
    // stay null.
    val pics = precios.select(col("_file"), col("_rownum"),
      coalesce(col("_hyperlink_Preview"), lit("")).as("Picture_URL"))
    val withPic = compras.join(pics, Seq("_file", "_rownum"), "left")

    // ---- J1 enrich (`:93-97`) + J6 price row (`database_utils.py:260-280`):
    // the file's first Precios row per Descripción (the reference's
    // iloc[0]) gives brand/category and the price; one left join with a
    // presence flag, so the price merge needs no second scan
    val firstPrecio = Relational.firstPerKey(
      precios.select(col("_file"), col("_rownum"), qcol("Descripción"),
        col("Marca"), col("Categoria"), qcol("P. Venta"), qcol("P. Oferta")),
      keys = Seq(col("_file"), qcol("Descripción")),
      orderBy = Seq(col("_rownum")))
      .drop("_rownum")
      .withColumn("__priced", lit(true))
    val enriched = withPic.join(broadcast(firstPrecio), Seq("_file", "Descripción"), "left")

    // ---- W1 forward-fill (`:143-153`), one-row lookback on the RAW value
    val wFile = Window.partitionBy(col("_file")).orderBy(col("_rownum"))
    val liga = col("Liga")
    val rows = enriched.withColumn("str_link",
      when(truthy(liga), liga).otherwise(lag(liga, 1).over(wFile)))

    // ---- store resolution (C7/C9, `database_utils.py:57-83`); F4:
    // unresolvable store → row contributes nothing (`:60-65`). The batch
    // barrier: everything below reads this frame, never the scan again.
    val batch = rows
      .withColumn("store_name", gf.store_name(col("str_link")))
      .withColumn("store_url", gf.domain_store(col("str_link")))
      .withColumn("provider_url", gf.provider_url(col("str_link")))
      .filter(col("store_name").isNotNull && col("store_name") =!= "none")
      .select(batchCols.map(qcol): _*)
      .trackedCheckpoint()
    val seqOrder = Seq(col("_file"), col("_rownum")) // the reference's row sequence

    // ---- store dim upsert (J4/M1): first occurrence wins store_url ----
    val newStores = Relational.firstPerKey(batch, Seq(col("store_name")), seqOrder)
      .join(existing.store.select("store_name"), Seq("store_name"), "left_anti")

    // ---- provider dim upsert (J4/M2): key (store, provider_url), spelled
    // with store_name (1:1 with id_store) so it needs no new store ids;
    // is_active would come from the quarantined URL-liveness stage (C10)
    val existingProviders = existing.provider
      .join(existing.store.select("id_store", "store_name"), Seq("id_store"))
    val newProviders = Relational.firstPerKey(batch,
        Seq(col("store_name"), col("provider_url")), seqOrder)
      .join(existingProviders.select("store_name", "provider_url"),
        Seq("store_name", "provider_url"), "left_anti")

    // ---- F2/F3 fact filters (`import_files_to_postgre.py:162-172`);
    // NB dims above intentionally saw canceled rows too — the reference
    // creates store/provider BEFORE these skips. A null provider_url
    // never resolves to a provider id, so such rows carry no fact.
    val facts0 = batch
      .filter(col("provider_url").isNotNull)
      .filter(!(qcol("Fch Entrga").isNotNull && qcol("Fch Entrga").contains("CANCELED")))
      .filter(qcol("Descripción").isNotNull && trim(qcol("Descripción")) =!= "")

    // ---- J5 dedup gate (`database_utils.py:128-145`): first occurrence
    // per exact (product, quantity, unit_price, purchase_date) in the
    // batch, minus combos already in the warehouse
    val dedupKey = Seq("Descripción", "quantity_k", "unit_price_k", "purchase_date_k")
    val keyed = facts0
      .withColumn("quantity_k", col("Cant").cast(IntegerType))
      .withColumn("unit_price_k", qcol("C. Unit"))
      .withColumn("purchase_date_k", qcol("Fch Cmpr"))
    val existingCombos = existing.operation
      .join(existing.purchase.select("id_purchase", "purchase_date"), Seq("id_purchase"))
      .join(existing.product.select("id_product", "product_name"), Seq("id_product"))
      .select(col("product_name").as("Descripción"),
        col("quantity").as("quantity_k"),
        col("unit_price").as("unit_price_k"),
        col("purchase_date").as("purchase_date_k"))
    val facts = Relational.firstPerKey(keyed, dedupKey.map(col), seqOrder)
      .join(existingCombos, dedupKey, "left_anti")

    // ---- product dim upsert (M2): first surviving fact per name
    val newProducts = Relational.firstPerKey(facts, Seq(qcol("Descripción")), seqOrder)
      .join(existing.product.select(col("product_name").as("Descripción")),
        Seq("Descripción"), "left_anti")

    // ---- surrogate ids: the four new-key sets ranked in ONE pass, each
    // kind offset by its max(existing id) from one grouped aggregate. The
    // aggregate is joined on, not collected, so no per-commit value
    // reaches the generated code and a repeated commit reuses its compiled
    // classes; joined before the rank, it is computed once, inside the
    // rank's checkpoint, however many times the ids are read below
    val idOffsets = Seq(("store", existing.store, "id_store"),
        ("provider", existing.provider, "id_provider"),
        ("product", existing.product, "id_product"),
        ("purchase", existing.purchase, "id_purchase"))
      .map { case (k, t, id) => t.select(lit(k).as("__kind"), col(id).cast(LongType).as("__id")) }
      .reduce(_ unionByName _)
      .groupBy("__kind").agg(max(col("__id")).as("__max"))
    val newKeys = Seq("store" -> newStores, "provider" -> newProviders,
        "product" -> newProducts, "purchase" -> facts)
      .map { case (k, df) => df.select(lit(k).as("__kind") +: batchCols.map(qcol): _*) }
      .reduce(_ unionByName _)
      .join(broadcast(idOffsets), Seq("__kind"), "left")
    val ided = Relational.withStratumRankN(newKeys, Seq("__kind"), seqOrder, "__rank", "__n")
      .withColumn("__id", col("__rank") + coalesce(col("__max"), lit(0L)))
      .drop("__max")
    def fresh(kind: String): DataFrame = ided.filter(col("__kind") === kind)

    // ---- id resolution against existing ∪ new dims, then the second and
    // last barrier: every table below reads `resolved` + its own table
    val storeIds = existing.store.select("id_store", "store_name")
      .unionByName(fresh("store").select(col("__id").as("id_store"), col("store_name")))
    val providerIds = existingProviders.select("id_provider", "store_name", "provider_url")
      .unionByName(fresh("provider").select(col("__id").as("id_provider"),
        col("store_name"), col("provider_url")))
    val productIds = existing.product.select(col("id_product"), col("product_name").as("Descripción"))
      .unionByName(fresh("product").select(col("__id").as("id_product"), qcol("Descripción")))
    val resolved = ided.drop("__rank", "__n")
      .join(broadcast(storeIds), Seq("store_name"), "left")
      .join(broadcast(providerIds), Seq("store_name", "provider_url"), "left")
      .join(broadcast(productIds), Seq("Descripción"), "left")
      .trackedCheckpoint()
    def delta(kind: String): DataFrame = resolved.filter(col("__kind") === kind)

    val store = existing.store.unionByName(delta("store")
      .select(col("__id").as("id_store"), col("store_name"), col("store_url"),
        lit(true).as("status")))
    val provider = existing.provider.unionByName(delta("provider")
      .select(col("__id").as("id_provider"), col("id_store"), col("provider_url"),
        lit(true).as("is_active")))
    // conditional brand/category columns → one nullable schema
    // (`database_utils.py:149-171`); create_product is called with descr=""
    val branded = truthy(col("Marca")) && truthy(col("Categoria"))
    val product = existing.product.unionByName(delta("product")
      .select(col("__id").as("id_product"), qcol("Descripción").as("product_name"),
        lit("").as("description"), col("Picture_URL").as("image_url"),
        when(branded, col("Marca")).as("brand"),
        when(branded, col("Categoria")).as("category")))

    // ---- purchase fact (M3, `database_utils.py:175-204`) ----
    val idPayment = existing.paymentType
      .filter(col("payment_type") === "Tarjeta de Crédito")
      .select(col("id_payment_type"))
    val purchaseRows = delta("purchase").withColumnRenamed("__id", "id_purchase")
    val purchase = existing.purchase.unionByName(
      purchaseRows
        .crossJoin(broadcast(idPayment)) // constant dim key J3 (`:183`)
        .select(col("id_purchase"),
          col("id_provider"),
          col("id_payment_type").cast(LongType),
          qcol("Total Cmpr").as("total"),
          lit(0.0).as("tax"), lit(0.0).as("ieps"),
          qcol("Fch Cmpr").as("purchase_date"),
          qcol("Fch Entrga").as("delivery_date"),
          qcol("Dólar").as("exchange_rate"),
          coalesce(col("Envio"), lit(0.0)).as("shipping_cost"),
          coalesce(col("Desct"), lit(0.0)).as("discount")))

    // ---- operation fact (M3, `database_utils.py:206-245`) ----
    val operation = existing.operation.unionByName(
      purchaseRows.select(col("id_purchase"), col("id_product"),
        coalesce(col("Cant").cast(IntegerType), lit(0)).as("quantity"),
        coalesce(qcol("C. Unit"), lit(0.0)).as("unit_price"),
        qcol("C. Unit US").as("unit_price_usd"),
        coalesce(qcol("% Desc"), lit(0.0)).as("discount_percentage"),
        coalesce(col("Pzs").cast(IntegerType), lit(1)).as("pieces_per_unit"),
        qcol("Costo Final").as("final_cost"),
        gf.truncate500(coalesce(col("Liga"), lit(""))).as("product_url")))

    // ---- price SCD merge (M4, `database_utils.py:260-280`): J6 semi
    // (price only when the product appears in Precios) + C12 pricing
    val priced = purchaseRows.filter(col("__priced"))
      .withColumn("price", gf.derived_price(qcol("P. Venta"), qcol("Costo Final")))
      .withColumn("offer_price", gf.derived_offer(qcol("P. Oferta"), col("price")))
    // last write wins: the reference updates price per surviving row in
    // sequence, so the final state is the LAST row's value per product
    val incomingPrices = Relational.firstPerKey(priced,
      Seq(col("id_product")), Seq(col("_file").desc, col("_rownum").desc))
      .select("id_product", "price", "offer_price")
    val price = scdMerge(existing.price, incomingPrices, batchDate)

    Warehouse(existing.paymentType, store, provider, product, purchase, operation, price)
  }

  /** M4 SCD-style price upsert (`database_utils.py:260-280`): matched
    * products update price/offer_price and move start/end_date to `asOf`
    * when the price changed; unmatched insert with start_date=`asOf`.
    * Delta-capable sinks express this exact shape as `MERGE INTO`.
    */
  def scdMerge(current: DataFrame, updates: DataFrame, asOf: Column): DataFrame = {
    val u = updates.select(col("id_product").as("u_id"),
      col("price").as("u_price"), col("offer_price").as("u_offer"))
    val matched = current.join(broadcast(u), col("id_product") === col("u_id"), "left")
      .select(col("id_product"),
        coalesce(col("u_price"), col("price")).as("price"),
        coalesce(col("u_offer"), col("offer_price")).as("offer_price"),
        when(col("u_id").isNotNull && !(col("price") <=> col("u_price")), asOf)
          .otherwise(col("start_date")).as("start_date"),
        when(col("u_id").isNotNull && !(col("price") <=> col("u_price")), asOf)
          .otherwise(col("end_date")).as("end_date"))
    val inserted = u.join(current.select(col("id_product").as("u_id")), Seq("u_id"), "left_anti")
      .select(col("u_id").as("id_product"), col("u_price").as("price"),
        col("u_offer").as("offer_price"), asOf.as("start_date"),
        lit(null).cast(DateType).as("end_date"))
    matched.unionByName(inserted)
  }

  /** Column ref with backtick quoting — sheet headers carry dots and
    * spaces ("C. Unit", "P. Venta") that bare col() would parse as nested
    * field access.
    */
  private def qcol(name: String): Column = col(s"`$name`")

  /** Pandas truthiness (SURVEY.md §7.3 falsy-vs-null): None and '' are
    * falsy for strings.
    */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  private def conform(df: DataFrame, numeric: Seq[String], dates: Seq[String]): DataFrame =
    graft.operators.Conform.conform(df,
      graft.operators.Conform.Contract(
        required = Seq("Descripción"), numeric = numeric, dates = dates))

  /** The batch frame's columns: every one a dimension payload, an id
    * key or a fact column reads, and nothing else.
    */
  private val batchCols = Seq("_file", "_rownum", "store_name", "store_url",
    "provider_url", "Descripción", "Picture_URL", "Marca", "Categoria",
    "Cant", "% Desc", "C. Unit US", "C. Unit", "Total Cmpr", "Envio",
    "Fch Cmpr", "Fch Entrga", "Dólar", "Desct", "Pzs", "Costo Final", "Liga",
    "P. Venta", "P. Oferta", "__priced")
}
