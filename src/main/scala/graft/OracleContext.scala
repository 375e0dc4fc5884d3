package graft

import org.apache.spark.sql.SparkSession

/** Dump-time context for MODEL-AS-LITERAL oracles.
  *
  * Most oracles are static SQL. A few operators apply a TRAINED model
  * (PCA eigenvectors, BPE/unigram vocab tables) whose training chain is
  * data-dependent and sequential — no static SQL can state the model.
  * But the APPLY arithmetic (centering + projection; tokenization under a
  * given vocab) is deterministic and cross-engine checkable, so those
  * oracles interpolate the LEARNED model into the SQL as literals — the
  * `stats_bootstrap` threshold-literal / `emb_kmeans` broadcast-model
  * convention taken to its conclusion. Training stays covered by the
  * replay specs and frozen canaries; the gate then hash-checks the apply
  * arithmetic end to end.
  *
  * `graft.Verify` (the gate's dump step) sets this before rendering
  * `SparkEntry.oracleSql`, so the literals are trained on EXACTLY the
  * corpus the gate compares against. When unset (key-set consistency
  * checks in specs), the affected oracles return a marked placeholder and
  * never train — any attempt to EXECUTE a placeholder fails loudly. */
object OracleContext {

  @volatile private var ctx: Option[(SparkSession, String)] = None

  def set(s: SparkSession, dir: String): Unit = ctx = Some((s, dir))

  def get: Option[(SparkSession, String)] = ctx

  /** Puts back a context read with `get` (None unsets it). */
  def restore(c: Option[(SparkSession, String)]): Unit = ctx = c

  /** `sql` rendered on the context's session and data dir, or the
    * placeholder when no context is set. */
  def rendered(sql: (SparkSession, String) => String): String =
    get.fold(Placeholder) { case (s, dir) => sql(s, dir) }

  val Placeholder =
    "SELECT 'model-as-literal oracle requires OracleContext (set by graft.Verify)' AS err"

  /** SQL string literal with quotes escaped. */
  def sqlStr(raw: String): String = "'" + raw.replace("'", "''") + "'"
}
