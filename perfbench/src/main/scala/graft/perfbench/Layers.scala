package graft.perfbench

import org.apache.spark.sql.execution.SparkPlanInfo

/** A physical plan node as the listeners report it: node name, its one-line
  * description (which names the table or path it reads or writes), and its
  * children. */
final case class PlanNode(name: String, detail: String, children: Seq[PlanNode] = Nil) {
  def nodes: Seq[PlanNode] = this +: children.flatMap(_.nodes)
}

object PlanNode {
  def of(p: SparkPlanInfo): PlanNode =
    PlanNode(p.nodeName, p.simpleString, p.children.map(of))
}

/** Attributes a Spark job to a layer of the engine by the DSv2 write or
  * the file sink its SQL execution plan names, never by call site, so the
  * attribution survives refactors of the code that issues the job.
  *
  *   - an `AppendData` of the `graft-es` writer        → `es.bulk`
  *   - an `AppendData` of the `graft-cql` writer       → `cql.write`
  *   - a parquet file sink (the snapshot rewrite)      → `Sync.state_write`
  *   - a plan over the micro-batch, a cached merge or  → `Sync.merge`
  *     a grouping aggregate
  *   - a plan that only scans parquet snapshot files   → `Sync.state_read`
  *   - anything else                                   → `other`
  */
object Layers {
  val Es = "es.bulk"
  val Cql = "cql.write"
  val StateWrite = "Sync.state_write"
  val Merge = "Sync.merge"
  val StateRead = "Sync.state_read"
  val Other = "other"

  private val writers = Seq("graft.sources.EsRest" -> Es, "graft.sources.Cql" -> Cql)

  // a grouping aggregate (the merge), not a global count over a scan
  private val grouping = """keys?=\[[^\]]""".r
  private def keyedAggregate(n: PlanNode): Boolean =
    n.name.endsWith("Aggregate") && grouping.findFirstIn(n.detail).isDefined

  def of(plan: PlanNode): String = {
    val nodes = plan.nodes
    val write = nodes.filter(_.name == "AppendData").flatMap(n =>
      writers.collectFirst { case (cls, layer) if n.detail.contains(cls) => layer })
    if (write.nonEmpty) write.head
    else if (nodes.exists(_.name.contains("InsertIntoHadoopFsRelationCommand"))) StateWrite
    else if (nodes.exists(n => n.name.startsWith("MicroBatchScan") ||
        n.name.startsWith("Scan ExistingRDD") || n.name == "Window" ||
        n.name == "InMemoryTableScan" || keyedAggregate(n))) Merge
    else if (nodes.exists(_.name.startsWith("Scan parquet"))) StateRead
    else Other
  }
}
