package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.Pipeline
import graft.io.{Readers, Writers, Xlsx}
import graft.profile.Quality

/** Runnable end-to-end demo of the library's reusable layer — the
  * reference's whole lifecycle (`insert.py` read → conform → integrate →
  * load, `data_analysis.py` profile) in one main, over harness data.
  *
  *   sbt "runMain graft.tools.Demo [sfDir]"   (default /root/testdata/sf0.001)
  *
  * Stages, each through the PUBLIC api a library user would call:
  *   1. Source-shaping: reference-shaped raw feeds are derived from the
  *      harness tables and written through three real codecs — contacts
  *      as `;`-CSV (Readers.csv), contracts as XLSX (Xlsx.write/read),
  *      relations as JSONL (Readers.jsonl) — so ingestion exercises the
  *      actual byte-level sources, not pre-typed DataFrames.
  *   2. Integration: etl.Pipeline.run — conform (positional rename,
  *      dd/MM/yyyy parse, phone normalization, entity typing), surrogate
  *      ids, entity union + dedup, label-mapped relation edges.
  *   3. Load: entities → parquet with a PK assert (Writers.parquet +
  *      Writers.assertPrimaryKey); contacts → embedded Derby via the
  *      JDBC sink (Writers.jdbc) and read back — the reference's MySQL
  *      write → re-find loop, runnable offline.
  *   4. Profile: profile.Quality over the loaded tables (null counts,
  *      uniqueness audit, duplicate audit, semi-join conditional count).
  *
  * Every stage ends in a `require`, so the demo is self-checking: it
  * exits 0 only if the whole lifecycle round-trips. Scale notes inline —
  * each stage states what changes (and what doesn't) on a cluster.
  */
object Demo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session("graft-demo")
    try run(spark, sfDir)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    def step(msg: String): Unit =
      println(f"[demo ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

    // ---- 1. Source-shaping: reference-shaped feeds from harness tables.
    // Deterministic derivations (no RNG): birthday/prenom are pure
    // functions of c_custkey; every 11th contact is a PM (null prenom +
    // null birthday — the entity-typing rule's trigger), every 7th phone
    // gets messy "00 33" formatting for the normalizer to clean.
    val customer = Readers.parquet(spark, s"$sfDir/customer.parquet")
    val orders = Readers.parquet(spark, s"$sfDir/orders.parquet")

    val birthday = format_string("%02d/%02d/%04d",
      col("c_custkey") % 28 + 1, col("c_custkey") % 12 + 1,
      col("c_custkey") % 50 + 1950)
    val isPm = col("c_custkey") % 11 === 0
    val contactsShaped = customer.select(
      col("c_name").as("nom"),
      when(isPm, lit(null)).otherwise(concat(lit("Prenom"),
        col("c_custkey") % 20)).as("prenom"),
      when(isPm, lit(null)).otherwise(birthday).as("date_naissance"),
      when(isPm, lit(null)).otherwise(lit("M.")).as("civilite"),
      when(isPm, lit("PM")).otherwise(lit(null)).as("type_contact"),
      concat(lit("1 rue "), col("c_mktsegment")).as("adresse"),
      format_string("%05d", col("c_custkey") % 100000).as("code_postal"),
      lit("Paris").as("ville"), lit("France").as("pays"),
      // a French-shaped number derived from the key; every 7th carries
      // the messy "00 33" international prefix for the normalizer
      when(col("c_custkey") % 7 === 0,
        format_string("00 33 6 %02d %02d %02d %02d",
          col("c_custkey") % 90 + 10, col("c_custkey") % 77 + 11,
          col("c_custkey") % 53 + 13, col("c_custkey") % 89 + 10))
        .otherwise(format_string("06 %02d %02d %02d %02d",
          col("c_custkey") % 90 + 10, col("c_custkey") % 77 + 11,
          col("c_custkey") % 53 + 13, col("c_custkey") % 89 + 10))
        .as("telephone"))

    val contactsCsv = graft.util.Scratch.sessionDir(spark, "demo_contacts", sfDir)
    contactsShaped.coalesce(1).write.mode("overwrite")
      .option("sep", ";").option("header", "true").csv(contactsCsv)
    step(s"contacts feed written as ;-CSV → $contactsCsv")

    // Contracts: one row per order (capped for the XLSX dimension-feed
    // sink — spreadsheets are never fact data; a real deployment lands
    // fact-scale contracts as parquet/CSV and XLSX only for dim feeds).
    val contractsShaped = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderkey") % 5 === 0).limit(500)
      .select(
        col("c_name").as("nom"),
        when(isPm, lit(null)).otherwise(concat(lit("Prenom"),
          col("c_custkey") % 20)).as("prenom"),
        when(isPm, lit(null)).otherwise(birthday).as("date_naissance"),
        col("o_orderkey").cast("string").as("numero"),
        date_format(col("o_orderdate"), "dd/MM/yyyy").as("ouvert_le"),
        format_string("FR%010d", col("o_orderkey")).as("isin"),
        (col("o_orderkey") % 100 + 1).cast("double").as("nombre"),
        round(col("o_totalprice") / 100.0, 2).as("prix_unitaire"),
        date_format(col("o_orderdate"), "dd/MM/yyyy").as("date_prix"),
        round(col("o_totalprice"), 2).as("valeur"))
    val contractsXlsx =
      graft.util.Scratch.sessionDir(spark, "demo_contracts", sfDir)
    Xlsx.write(contractsShaped, contractsXlsx)
    step(s"contracts feed written as XLSX → $contractsXlsx")

    // Relations: consecutive customers within a nation (deterministic
    // pairs), ISO dates on both endpoints, one unmapped label in seven.
    val ck = customer.select(col("c_custkey"), col("c_name").as("nom"),
      col("c_nationkey"))
    val pairs = ck.alias("s").join(ck.alias("d"),
        col("s.c_nationkey") === col("d.c_nationkey") &&
          col("s.c_custkey") + 1 === col("d.c_custkey"))
    val isoBirth = (k: org.apache.spark.sql.Column) =>
      format_string("%04d-%02d-%02d", k % 50 + 1950, k % 12 + 1, k % 28 + 1)
    val relationsShaped = pairs.select(
      col("s.nom").as("nom_s"),
      concat(lit("Prenom"), col("s.c_custkey") % 20).as("prenom_s"),
      isoBirth(col("s.c_custkey")).as("naissance_s"),
      col("d.nom").as("nom_d"),
      concat(lit("Prenom"), col("d.c_custkey") % 20).as("prenom_d"),
      isoBirth(col("d.c_custkey")).as("naissance_d"),
      when(col("s.c_custkey") % 7 === 0, lit("ami de"))
        .otherwise(when(col("s.c_custkey") % 2 === 0, lit("conjoint de"))
          .otherwise(lit("parent de"))).as("type_relation"))
    val relationsJsonl =
      graft.util.Scratch.sessionDir(spark, "demo_relations", sfDir)
    relationsShaped.coalesce(1).write.mode("overwrite").json(relationsJsonl)
    step(s"relations feed written as JSONL → $relationsJsonl")

    // ---- 2. Ingest through the real codecs + integrate.
    val str: Seq[String] => StructType =
      ns => StructType(ns.map(StructField(_, StringType, nullable = true)))
    val contactsRaw = Readers.csv(spark, contactsCsv,
      str(Seq("nom", "prenom", "date_naissance", "civilite", "type_contact",
        "adresse", "code_postal", "ville", "pays", "telephone")))
    // XLSX surfaces strings; the conform layer re-types (reader contract)
    val contractsRaw = Xlsx.read(spark, contractsXlsx)
      .withColumn("nombre", col("nombre").cast("double"))
      .withColumn("prix_unitaire", col("prix_unitaire").cast("double"))
      .withColumn("valeur", col("valeur").cast("double"))
    val relationsRaw = Readers.jsonl(spark, relationsJsonl,
      str(Seq("nom_s", "prenom_s", "naissance_s", "nom_d", "prenom_d",
        "naissance_d", "type_relation")))

    val out = Pipeline.run(contactsRaw, contractsRaw, relationsRaw)
    val (nEnt, nCon, nCtr, nRel) = (out.entities.count(),
      out.contacts.count(), out.contracts.count(), out.relations.count())
    step(s"pipeline integrated: entities=$nEnt contacts=$nCon " +
      s"contracts=$nCtr relations=$nRel")
    require(nEnt > 0 && nCon > 0 && nCtr > 0 && nRel > 0,
      "pipeline produced an empty table")

    // ---- 3. Load: parquet with PK assert; contacts through JDBC.
    Writers.assertPrimaryKey(out.entities, Seq("entity_id"), "entities")
    val entitiesPq =
      graft.util.Scratch.sessionDir(spark, "demo_entities", sfDir)
    Writers.parquet(out.entities, entitiesPq)
    step(s"entities loaded → parquet $entitiesPq (PK entity_id asserted)")

    graft.io.GraftDerbyDialect.register()
    val url = s"jdbc:derby:memory:graft_demo_${graft.util.Scratch.jvmTag}" +
      s"_${graft.util.Scratch.sessionTag(spark)};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Writers.jdbc(out.contacts, url, "contacts", columnTypes = None,
      properties = props)
    val reread = spark.read.jdbc(url, "contacts", props)
    require(reread.count() == nCon,
      s"JDBC round trip lost rows: ${reread.count()} != $nCon")
    step(s"contacts loaded → Derby and re-read: ${nCon} rows round-trip")

    // ---- 4. Profile the loaded tables (data_analysis.py's surface).
    val entities = Readers.parquet(spark, entitiesPq)
    val nulls = Quality.nullCounts(entities).head()
    val (unique, violations) =
      Quality.uniquenessAudit(entities, Seq("entity_id"))
    require(unique && violations == 0L,
      s"entity_id uniqueness audit failed: $violations violations")
    val dupNatural = Quality.duplicateRowsKeepFirst(
      entities, Seq("name", "first_name")).count()
    val withEdges = Quality.semiJoinCount(entities,
      out.relations.select(col("entity_id_source").as("entity_id")),
      Seq("entity_id")).head().getLong(0)
    step(s"profile: nullCounts=$nulls uniquePk=$unique " +
      s"naturalKeyDups=$dupNatural entitiesWithOutEdges=$withEdges")
    require(withEdges > 0, "no entity carries a relation edge")
    // every relation endpoint must resolve to a loaded entity (FK face)
    val orphans = out.relations
      .join(entities.select(col("entity_id").as("k")),
        col("entity_id_source") === col("k"), "left_anti").count()
    require(orphans == 0, s"$orphans relation sources missing from entities")

    step("demo complete — every stage round-tripped and self-checked")
  }
}
