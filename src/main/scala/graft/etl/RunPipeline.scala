package graft.etl

import graft.io.{Readers, Writers, Xlsx}

/** CLI for the end-to-end integration pipeline — the drop-in replacement
  * for the reference's `python insert.py` run (insert.py:194-198):
  *
  *   runMain graft.etl.RunPipeline <contacts.csv> <contrats.csv> \
  *     <relations.xlsx|.csv> <outDir>
  *
  * Reads the three sources (semicolon CSV × 2 + first-sheet XLSX), runs
  * [[Pipeline]] (four eager landing jobs in two concurrent phases: the
  * conformed contacts and contracts, then the deduped entities and
  * contacts), asserts the primary keys the reference declared as DDL,
  * and writes the four conformed tables as parquet under <outDir>. The
  * three audits and four sinks read the landed blocks, not the CSVs, and
  * repeat neither dedup; a lost executor fails the audit or sink that
  * needed its blocks, and the whole run must be repeated.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(contactsPath, contractsPath, relationsPath, outDir) = args
    val spark = graft.Session("graft-pipeline")

    val relations =
      if (relationsPath.endsWith(".xlsx")) Xlsx.read(spark, relationsPath)
      else Readers.csvInferred(spark, relationsPath)
    val out = Pipeline.run(
      Readers.csvInferred(spark, contactsPath),
      Readers.csvInferred(spark, contractsPath),
      relations)

    Writers.assertPrimaryKey(out.entities, Seq("entity_id"), "entities")
    Writers.assertPrimaryKey(out.contacts, Seq("entity_id"), "contacts")
    Writers.assertPrimaryKey(out.contracts, Seq("contract_number"), "contracts")
    Writers.parquet(out.entities, s"$outDir/entities")
    Writers.parquet(out.contacts, s"$outDir/contacts")
    Writers.parquet(out.contracts, s"$outDir/contracts")
    Writers.parquet(out.relations, s"$outDir/relations")
    println(s"[pipeline] wrote entities/contacts/contracts/relations to $outDir")
    spark.stop()
  }
}
