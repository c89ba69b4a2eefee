package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Rounds

/** The end-to-end integration pipeline — the engine re-expression of the
  * reference's `import_to_mySQL()` (`/root/reference/insert.py:87-191`).
  *
  * Input: raw (un-renamed) contacts / contracts / relations frames as read
  * from the source files. Output: the four conformed tables the reference
  * loads into MySQL.
  *
  * `run` is not lazy. Like the reference, which conforms each source
  * once in memory and then loads its tables (insert.py:93-129,169-191),
  * it lands in two phases, each with [[graft.ops.Rounds.landAll]]: the
  * frames of a phase land as concurrent jobs, each on its own thread
  * with the caller's local properties, so they share the cores instead
  * of queueing.
  *  1. The conformed contacts and the conformed contracts (the one-split
  *     contacts landing carries the phone conform).
  *  2. Over those blocks, the two deduped outputs: `entities` (the
  *     union with the relation endpoints and its dedup shuffle) and the
  *     reshaped, keep-first-deduped `contacts` (its window shuffle).
  * If a landing fails, `run` waits for the rest of its phase to end and
  * then rethrows the first failure in phase order; no `Output` is
  * returned, and blocks already landed are left for the cleaner.
  * `Output.entities` and `Output.contacts` are bare landed leaves, so
  * each dedup shuffle runs once per `run`, however many audits and sinks
  * read them; `contracts` and `relations` are projections (over the
  * landed contracts and over the raw relations). The trade is the one
  * `Rounds` makes: the landed blocks have no lineage, so an executor lost
  * after `run` fails the later audit or sink, and the pipeline must be
  * rerun from `run`. The blocks are freed by Spark's context cleaner once
  * the `Output` is unreachable.
  *
  * Divergences from the reference, all deliberate (SURVEY.md §1, §2.4):
  *  - surrogate ids are deterministic sha2 over the natural key
  *    (name, first_name, birthday, entity_type) instead of uuid4 — required
  *    for idempotence, distribution, and oracle checks. Consequently rows
  *    sharing a natural key share an id, and `entities` is deduped on it
  *    (the reference's *intent*; its uuid4 version emits duplicate natural
  *    keys with distinct ids and has the dead-branch bug at insert.py:150).
  *  - phone validity is the NSN-length reduction of libphonenumber's
  *    `is_possible_number` (see [[Phone]]).
  *
  * Plan shape at scale: four landing jobs in two concurrent phases.
  * Phase 1 is two scans, each with partition-local conform and id
  * columns. Phase 2 is one union with the relation endpoints and one
  * dedup shuffle for `entities`, and one keep-first window shuffle for
  * `contacts`. `contracts` needs no shuffle. The landed blocks are
  * executor block storage (memory, spilling to local disk). Nothing
  * reachable after `run` reads the landed phase-1 contacts, so the
  * cleaner may free them then; the landed contracts go with the
  * `Output`. The reference's O(n²) row-by-row Python loops
  * (insert.py:134-166) do not exist here.
  */
object Pipeline {

  final case class Output(
      entities: DataFrame,
      contacts: DataFrame,
      contracts: DataFrame,
      relations: DataFrame)

  private val entityCols =
    Seq("entity_id", "name", "first_name", "birthday", "entity_type")

  def run(contactsRaw: DataFrame, contractsRaw: DataFrame,
          relationsRaw: DataFrame): Output = {

    // Conform: positional rename (insert.py:102-107) + date parsing
    // (insert.py:110-115) + phone normalization (insert.py:118), each
    // source landed once, both at the same time (see scaladoc).
    val Seq((contacts, _), (contracts, _)) = Rounds.landAll(
      Phone.normalized(
          Conform.rename(contactsRaw, Conform.contactColumns)
            .withColumn("birthday", Conform.parseDateFr(col("birthday"))),
          "phone_number", "phone_number")
        .withColumn("entity_id", Identity.surrogateId(
          col("name"), col("first_name"), col("birthday"), col("entity_type"))),
      Conform.rename(contractsRaw, Conform.contractColumns)
        .withColumn("birthday", Conform.parseDateFr(col("birthday")))
        .withColumn("open_at", Conform.parseDateFr(col("open_at")))
        .withColumn("date_price", Conform.parseDateFr(col("date_price")))
        .withColumn("entity_type",
          Conform.entityType(col("first_name"), col("birthday")))
        .withColumn("entity_id", Identity.surrogateId(
          col("name"), col("first_name"), col("birthday"), col("entity_type"))))

    val relations = Conform.rename(relationsRaw, Conform.relationColumns)
      .withColumn("birthday_s", Conform.parseDateIso(col("birthday_s")))
      .withColumn("birthday_d", Conform.parseDateIso(col("birthday_d")))

    // entities = contacts ∪ contracts ∪ relation endpoints, deduped on the
    // natural key (one shuffle; see scaladoc).
    val entitiesDeduped = contacts.select(entityCols.map(col): _*)
      .unionByName(contracts.select(entityCols.map(col): _*))
      .unionByName(Relations.endpointEntities(relations))
      .dropDuplicates("entity_id")

    // Reshape for load (insert.py:173-174): drop natural-key columns.
    // The contacts dimension is keyed by entity_id (insert.py:189), and
    // with deterministic ids duplicate natural keys now share one id — so
    // the dimension is deduped keep-first under a total order (the same
    // dedup the reference's uuid4-per-row scheme silently avoided while
    // violating its own dedup intent; SURVEY §2.4 BUG-1).
    val contactsDeduped = {
      val reshaped = contacts.drop("name", "first_name", "birthday", "entity_type")
      val order = reshaped.columns.filterNot(_ == "entity_id").map(col).toSeq
      Identity.dedupFirst(reshaped, Seq("entity_id"), order)
    }

    // Second phase: both dedups landed once, at the same time, so each
    // shuffle runs once per pass however many audits and sinks read it.
    val Seq((entities, _), (contactsOut, _)) =
      Rounds.landAll(entitiesDeduped, contactsDeduped)

    Output(
      entities = entities,
      contacts = contactsOut,
      contracts = contracts
        .drop("name", "first_name", "birthday", "entity_type", "value"),
      relations = Relations.buildEdges(relations))
  }
}
