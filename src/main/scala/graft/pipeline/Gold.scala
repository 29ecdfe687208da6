package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Derive

/** Gold layer: silver → 4 analytics outputs.
  *
  * Reference: /root/reference/airflow/dags/tasks/gold.py:11-68.
  *
  *   - `local_completo` = continente > região > local_de_assinatura (D1,
  *     gold.py:38); `acordo_recurso` = tipo_de_acordo - recursos (D2, :39).
  *     Null-propagating concat, matching pandas `+` with NaN.
  *   - `gld_pais` / `gld_org`: equality filters on tipo_de_parceiro (P4,
  *     gold.py:42-43) over the derived frame, projected to the two derived
  *     columns (P3, gold.py:56-58).
  *   - `gld_acordos`: the silver 11-column projection (gold.py:51).
  *
  * Precondition: the input is [[Silver.transform]] output, which ends in a
  * whole-row distinct. The reference's gold-side distinct on `gld_acordos`
  * is therefore the identity and is not repeated here (the incremental run
  * relies on the same fact).
  *
  * The reference computes ALL of this 4× (one identical Airflow task per
  * output, dag_main.py:62-77 + gold.py:54-59). Here the derived frame is
  * computed once and persisted (MEMORY_AND_DISK), and all four outputs are
  * projections of it ([[fanOut]]) — compute once, write four sinks.
  */
object Gold {

  final case class Outputs(acordos: DataFrame, hier: DataFrame,
                           pais: DataFrame, org: DataFrame)

  private val derivedCols = Seq("local_completo", "acordo_recurso")
  private val twoCols = derivedCols.map(col)

  def derive(silver: DataFrame): DataFrame =
    silver
      .withColumn("local_completo",
        Derive.hierarchy(Seq(col("continente"), col("região"), col("local_de_assinatura"))))
      .withColumn("acordo_recurso",
        Derive.composite(col("tipo_de_acordo"), col("recursos")))

  /** The four gold outputs by sink name, each a projection of the
    * [[derive]] frame. The one definition both the batch [[transform]] and
    * [[IncrementalMedallion.runAcordos]] write.
    */
  val fanOut: Seq[(String, DataFrame => DataFrame)] = Seq(
    "acordos" -> (_.drop(derivedCols: _*)),
    "hier"    -> (_.select(twoCols: _*)),
    "pais"    -> (_.filter(col("tipo_de_parceiro") === "País").select(twoCols: _*)),
    "org"     -> (_.filter(col("tipo_de_parceiro") === "Organização").select(twoCols: _*)))

  def transform(silver: DataFrame, persist: Boolean = true): Outputs = {
    val hier = derive(silver)
    val h = if (persist) hier.persist(StorageLevel.MEMORY_AND_DISK) else hier
    val out = fanOut.map { case (name, f) => name -> f(h) }.toMap
    Outputs(out("acordos"), out("hier"), out("pais"), out("org"))
  }
}
