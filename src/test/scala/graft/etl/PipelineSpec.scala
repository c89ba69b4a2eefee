package graft.etl

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.io.{Readers, Writers}

/** End-to-end pipeline parity over reference-shaped fixtures
  * (the CSVs under src/test/resources mirror the schemas in FIXTURES.md §A),
  * including the tests.py round-trip shape. */
class PipelineSpec extends SparkSpec {

  val stringCols: Seq[String] => StructType =
    names => StructType(names.map(StructField(_, StringType, nullable = true)))

  lazy val contactsRaw = Readers.csv(spark, resource("contacts.csv"),
    stringCols(Seq("nom", "prenom", "date_naissance", "civilite", "type_contact",
      "adresse", "code_postal", "ville", "pays", "telephone")))
  lazy val contractsRaw = Readers.csv(spark, resource("contrats.csv"),
    StructType(Seq(
      StructField("nom", StringType), StructField("prenom", StringType),
      StructField("date_naissance", StringType), StructField("numero", StringType),
      StructField("ouvert_le", StringType), StructField("isin", StringType),
      StructField("nombre", DoubleType), StructField("prix_unitaire", DoubleType),
      StructField("date_prix", StringType), StructField("valeur", DoubleType))))
  lazy val relationsRaw = Readers.csv(spark, resource("relations.csv"),
    stringCols(Seq("nom_s", "prenom_s", "naissance_s", "nom_d", "prenom_d",
      "naissance_d", "type_relation")))

  lazy val out = Pipeline.run(contactsRaw, contractsRaw, relationsRaw)

  test("entities: union of sources + relation endpoints, deduped by natural key") {
    val entities = out.entities.collect()
    assert(entities.length == 8, entities.mkString("\n"))
    // every id unique (the PK assert the reference does via DDL)
    assert(entities.map(_.getAs[String]("entity_id")).distinct.length == 8)
    // dup contact rows + matching contract + relation endpoints collapse to
    // ONE Dupont/Jean id
    val dupont = out.entities
      .filter(col("name") === "Dupont" && col("first_name") === "Jean").collect()
    assert(dupont.length == 1)
    // PM typing: both null → PM (contracts leg); source-typed PM kept
    val pms = entities.filter(_.getAs[String]("entity_type") == "PM")
      .map(_.getAs[String]("name")).toSet
    assert(pms == Set("Acme Corp", "BigCo"))
    // endpoint-only entities present
    val names = entities.map(_.getAs[String]("name")).toSet
    assert(names.contains("Nouveau") && names.contains("Autre"))
  }

  test("relations: null-endpoint skip, label map with unmapped→null, dedup'd endpoint ids") {
    val edges = out.relations.collect()
    assert(edges.length == 4) // row with null prenom source skipped
    val types = edges.map(_.getAs[String]("relation_type"))
    assert(types.count(_ == null) == 1) // 'ami de' unmapped
    assert(types.toSet == Set("SPOUSE_OF", "PARENT_OF", "CHILD_OF", null))
    // endpoint appearing as source AND destination gets ONE id (BUG-1 intent)
    val dupontId = out.entities
      .filter(col("name") === "Dupont").select("entity_id").head().getString(0)
    val asSource = edges.filter(_.getAs[String]("entity_id_source") == dupontId)
    val asDest = edges.filter(_.getAs[String]("entity_id_destination") == dupontId)
    assert(asSource.length == 2 && asDest.length == 1)
  }

  test("contacts/contracts reshaped for load; phone normalized; dates typed") {
    val contacts = out.contacts
    assert(contacts.columns.toSeq ==
      Seq("civility", "address", "zip_code", "city", "country", "phone_number", "entity_id"))
    val phones = contacts.select("phone_number").collect().map(_.getString(0))
    assert(phones.contains("+33 1 23 45 67 89"))
    assert(phones.contains("+1 555-123-4567x890"))
    assert(phones.contains(null)) // 0551234567 invalid
    val contracts = out.contracts
    assert(contracts.columns.toSeq ==
      Seq("contract_number", "open_at", "isin", "count", "unit_price", "date_price", "entity_id"))
    assert(contracts.schema("open_at").dataType == TimestampType)
  }

  test("round-trip through the parquet sink (tests.py:14-44 shape, deterministic)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
    Writers.assertPrimaryKey(out.entities, Seq("entity_id"), "entities")
    Writers.assertPrimaryKey(out.contacts, Seq("entity_id"), "contacts")
    Writers.assertPrimaryKey(out.contracts, Seq("contract_number"), "contracts")
    Writers.parquet(out.entities, s"$dir/entities")
    Writers.parquet(out.contacts, s"$dir/contacts")
    val entities = spark.read.parquet(s"$dir/entities")
    val contacts = spark.read.parquet(s"$dir/contacts")
    // deterministic "sample": the Martin/Claire PF contact
    val address = entities.join(contacts, "entity_id")
      .filter(col("name") === "Martin" && col("first_name") === "Claire" &&
        to_date(col("birthday")) === lit("1990-07-15").cast("date"))
      .select("address").head().getString(0)
    assert(address == "5 avenue Foch")
  }

  test("a duplicated contract number fails the PK audit after the landing") {
    val dup = Pipeline.run(contactsRaw,
      contractsRaw.unionByName(contractsRaw.filter(col("numero") === "C001")),
      relationsRaw)
    val e = intercept[IllegalArgumentException](Writers.assertPrimaryKey(
      dup.contracts, Seq("contract_number"), "contracts"))
    assert(e.getMessage.contains("violated by 1 keys"), e.getMessage)
  }

  test("no output frame rescans a source: contacts and contracts are landed") {
    val sources = Set("contacts.csv", "contrats.csv")
    Seq("entities" -> out.entities, "contacts" -> out.contacts,
        "contracts" -> out.contracts).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val scanned = plan.collect { case r: LogicalRelation => r.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths }
        .flatten.map(_.getName)
      assert(scanned.forall(f => !sources.contains(f)),
        s"$name rescans a source: $scanned\n$plan")
      // the entities and contacts dedups ran once, inside run
      val dedups = plan.collect { case a: Aggregate => a; case w: Window => w }
      assert(dedups.isEmpty, s"$name re-runs a dedup per consumer\n$plan")
      assert(plan.collect { case r: LogicalRDD => r }.size == 1,
        s"$name: want 1 landed leaf\n$plan")
    }
  }

  test("pipeline is idempotent: re-run produces identical entity ids") {
    val again = Pipeline.run(contactsRaw, contractsRaw, relationsRaw)
    val a = out.entities.select("entity_id").collect().map(_.getString(0)).sorted
    val b = again.entities.select("entity_id").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }
}
