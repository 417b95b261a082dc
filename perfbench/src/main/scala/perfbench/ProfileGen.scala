package perfbench

import graft.ingest.{ProfileIngest, ProfileParser, ThriftCompact}
import graft.model._

/** Seeded generator of Impala runtime-profile dumps: one line per query,
  * `<ts> <qid> <base64(zlib(thrift-compact RuntimeProfileTree))>`, with the
  * ExecSummary and Plan text the analyzer's [[ProfileParser]] reads.
  *
  * The same `(params, seed)` always yields the same bytes. Alongside the
  * lines it returns a [[Manifest]] of what a correct ingest must produce, so
  * the benchmark can check the analyzer's output counts without trusting the
  * analyzer.
  */
object ProfileGen {

  /** @param lines              dump lines, corrupt ones included
    * @param distinctStatements size of the statement pool lines draw from;
    *                           0 gives every line its own statement
    * @param longStatements     BI-style multi-clause statements (else short)
    * @param minOps, maxOps     operators per SELECT plan (ExecSummary rows)
    * @param minHosts, maxHosts hosts running each non-coordinator fragment
    * @param ddlShare           share of lines that are DDL profiles
    * @param corruptShare       share of lines planted as undecodable */
  final case class Params(
      lines: Int,
      distinctStatements: Int,
      longStatements: Boolean,
      minOps: Int, maxOps: Int,
      minHosts: Int, maxHosts: Int,
      ddlShare: Double,
      corruptShare: Double)

  /** What ingest must produce from the dump. `selectLike` counts SELECT
    * lines, i.e. the rows clustering should see. */
  final case class Manifest(
      lines: Long, bytes: Long, queries: Long, operators: Long, fragments: Long,
      selectLike: Long, ddl: Long, corrupt: Long,
      statements: Long, distinctStatements: Long)

  final case class Dump(lines: IndexedSeq[String], manifest: Manifest)

  // ------------------------------------------------ thrift compact writer

  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream(4096)
    def bytes: Array[Byte] = out.toByteArray
    def byte(b: Int): Unit = out.write(b & 0xff)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def string(s: String): Unit = {
      val b = s.getBytes("UTF-8"); varint(b.length.toLong); out.write(b)
    }
    /** Long-form field header: type byte, then the zigzag field id. */
    def field(tpe: Int, id: Int): Unit = { byte(tpe); zigzag(id.toLong) }
    def stop(): Unit = byte(0)
    def list(elemType: Int, size: Int): Unit =
      if (size < 15) byte((size << 4) | elemType)
      else { byte(0xf0 | elemType); varint(size.toLong) }
    def map(kt: Int, vt: Int, size: Int): Unit = {
      varint(size.toLong)
      if (size > 0) byte((kt << 4) | vt)
    }
  }

  import ThriftCompact.{BINARY, BOOL_FALSE, I32, I64, LIST, MAP, SET, STRUCT}

  private def writeNode(w: Writer, n: ProfileNode): Unit = {
    w.field(BINARY, 1); w.string(n.name)
    w.field(I32, 2); w.zigzag(n.numChildren.toLong)
    w.field(LIST, 3); w.list(STRUCT, n.counters.size)
    n.counters.foreach { c =>
      w.field(BINARY, 1); w.string(c.name)
      w.field(I32, 2); w.zigzag(c.counterType.toLong)
      w.field(I64, 3); w.zigzag(c.value)
      w.stop()
    }
    w.field(I64, 4); w.zigzag(n.metadata)
    w.field(BOOL_FALSE, 5)
    w.field(MAP, 6); w.map(BINARY, BINARY, n.infoStrings.size)
    n.infoStrings.foreach { case (k, v) => w.string(k); w.string(v) }
    w.field(LIST, 7); w.list(BINARY, 0)
    w.field(MAP, 8); w.map(BINARY, SET, 0)
    if (n.eventSequences.nonEmpty) {
      w.field(LIST, 9); w.list(STRUCT, n.eventSequences.size)
      n.eventSequences.foreach { case (name, evs) =>
        w.field(BINARY, 1); w.string(name)
        w.field(LIST, 2); w.list(I64, evs.size); evs.foreach(e => w.zigzag(e.timestampNs))
        w.field(LIST, 3); w.list(BINARY, evs.size); evs.foreach(e => w.string(e.label))
        w.stop()
      }
    }
    w.stop()
  }

  private def encode(tree: ProfileTree): String = {
    val w = new Writer
    w.field(LIST, 1); w.list(STRUCT, tree.nodes.size)
    tree.nodes.foreach(writeNode(w, _))
    w.stop()
    val d = new java.util.zip.Deflater()
    d.setInput(w.bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](16384)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    java.util.Base64.getEncoder.encodeToString(out.toByteArray)
  }

  // ------------------------------------------------------------ statements

  private val dims = Vector("region", "channel", "country", "segment", "brand",
    "category", "store_id", "fiscal_week", "sales_rep", "campaign")
  private val measures = Vector("amount", "quantity", "discount", "margin",
    "shipping_cost", "tax")
  private val facts = Vector("sales.fact_orders", "sales.fact_returns",
    "web.fact_sessions", "fin.fact_ledger")

  /** A long BI-dashboard SELECT: CTE, joins, CASE buckets, IN/LIKE/BETWEEN
    * filters, an EXISTS subquery, GROUP BY / HAVING / ORDER BY / LIMIT. */
  private def longSelect(r: scala.util.Random, variant: Int): String = {
    def pick[A](xs: Vector[A]): A = xs(r.nextInt(xs.size))
    val fact = pick(facts)
    val ds = r.shuffle(dims).take(2 + r.nextInt(4))
    val ms = r.shuffle(measures).take(2 + r.nextInt(4))
    val inList = (0 until 3 + r.nextInt(6)).map(i => s"'${pick(dims)}_${variant % 97}_$i'")
      .mkString(", ")
    val aggs = ms.zipWithIndex.map { case (m, i) =>
      i % 3 match {
        case 0 => s"sum(b.$m) AS total_$m"
        case 1 => s"avg(CAST(b.$m AS DOUBLE)) AS avg_$m"
        case _ => s"max(b.$m) - min(b.$m) AS range_$m"
      }
    }
    val bucket = s"CASE WHEN b.${ms.head} > ${100 + variant} THEN 'high' " +
      s"WHEN b.${ms.head} > ${10 + variant % 50} THEN 'mid' ELSE 'low' END"
    val year = 2010 + variant % 6
    s"""WITH base AS (SELECT o.${ds.mkString(", o.")}, o.${ms.mkString(", o.")}, o.customer_id, o.product_id, o.order_date
       |  FROM $fact o JOIN dim.customer c ON o.customer_id = c.customer_id
       |  WHERE o.order_date BETWEEN '$year-01-01' AND '$year-12-31' AND c.status IN ($inList)
       |    AND c.email IS NOT NULL AND o.${ms.last} >= ${variant % 13})
       |SELECT b.${ds.mkString(", b.")}, $bucket AS bucket, ${aggs.mkString(", ")},
       |  count(DISTINCT b.customer_id) AS customers, count(*) AS orders
       |FROM base b LEFT JOIN dim.product p ON b.product_id = p.product_id
       |WHERE p.category LIKE '${pick(dims).take(3)}%' AND (b.${ms.head} > 0 OR p.launched < '$year-06-30')
       |  AND EXISTS (SELECT 1 FROM dim.store s WHERE s.store_id = b.store_id AND s.open_flag = 1)
       |GROUP BY b.${ds.mkString(", b.")}, $bucket
       |HAVING sum(b.${ms.head}) > ${1000 * (1 + variant % 7)}
       |ORDER BY ${ds.head} DESC, customers
       |LIMIT ${50 + variant % 200}""".stripMargin
  }

  /** A short ad-hoc SELECT; `variant` makes the text unique. */
  private def shortSelect(r: scala.util.Random, variant: Int): String = {
    val t = s"adhoc.t${r.nextInt(40)}"
    val d = dims(r.nextInt(dims.size))
    r.nextInt(3) match {
      case 0 => s"SELECT $d, count(*) FROM $t WHERE id = $variant GROUP BY $d"
      case 1 => s"SELECT * FROM $t WHERE $d = 'v$variant' LIMIT ${1 + r.nextInt(100)}"
      case _ => s"SELECT a.$d, sum(b.x) FROM $t a JOIN adhoc.t${r.nextInt(40)} b " +
        s"ON a.id = b.id WHERE a.k > $variant GROUP BY a.$d"
    }
  }

  /** DDL; `COMPUTE STATS` is Impala-only and parses as `Unparseable`. */
  private def ddlStatement(r: scala.util.Random, variant: Int): String =
    r.nextInt(4) match {
      case 0 => s"CREATE TABLE staging.load_$variant (id BIGINT, payload STRING)"
      case 1 => s"DROP TABLE IF EXISTS staging.load_$variant"
      case 2 => s"ALTER TABLE staging.load_$variant ADD COLUMNS (note STRING)"
      case _ => s"COMPUTE STATS staging.load_$variant"
    }

  // ----------------------------------------------------------------- plans

  private final case class Op(id: Int, name: String, planDetail: Option[String],
                              summaryDetail: String, children: Seq[Op],
                              table: Option[String] = None)
  private final case class Fragment(id: Int, partition: String, root: Op,
                                    sink: Option[(Int, Int, String)], hosts: Int)

  private def nodeKind(name: String): String = name match {
    case "SCAN HDFS" => "HDFS_SCAN_NODE"
    case "HASH JOIN" => "HASH_JOIN_NODE"
    case "EXCHANGE" => "EXCHANGE_NODE"
    case _ => "AGGREGATION_NODE"
  }

  /** Fragments of one SELECT plan, root (coordinator) fragment first.
    * `nOps` ≤ 4 gives a narrow scan(/aggregate) plan; larger gives a
    * left-deep chain of broadcast joins with `3·joins + 5` operators. */
  private def plan(r: scala.util.Random, nOps: Int, hosts: Int): Seq[Fragment] = {
    var nextId = 0
    def id(): Int = { nextId += 1; nextId - 1 }
    def scan(): Op = {
      val t = s"warehouse.t${r.nextInt(60)}"
      Op(id(), "SCAN HDFS", Some(s"$t, RANDOM"), t, Nil, Some(t))
    }
    if (nOps <= 4) {
      val s = scan()
      val child = nOps match {
        case 2 => s
        case 3 => Op(id(), "AGGREGATE", Some("FINALIZE"), "FINALIZE", Seq(s))
        case _ => Op(id(), "AGGREGATE", None, "STREAMING", Seq(s))
      }
      val exch = Op(id(), "EXCHANGE", Some("UNPARTITIONED"), "UNPARTITIONED", Nil)
      // with four operators the pre-aggregation is finalized on the coordinator
      val root = if (nOps >= 4) Op(id(), "AGGREGATE", Some("FINALIZE"), "FINALIZE", Seq(exch)) else exch
      Seq(Fragment(1, "UNPARTITIONED", root, None, 1),
        Fragment(0, "RANDOM", child, Some((1, exch.id, "UNPARTITIONED")), hosts))
    } else {
      val joins = math.max(1, math.round((nOps - 5) / 3.0).toInt)
      var probe = scan()
      val buildFrags = scala.collection.mutable.ArrayBuffer.empty[(Op, Op)]
      (1 to joins).foreach { _ =>
        val s = scan()
        val e = Op(id(), "EXCHANGE", Some("BROADCAST"), "BROADCAST", Nil)
        buildFrags += ((s, e))
        // the build side (right child) is listed first, as Impala prints it
        probe = Op(id(), "HASH JOIN", Some("INNER JOIN, BROADCAST"),
          "INNER JOIN, BROADCAST", Seq(e, probe))
      }
      val pre = Op(id(), "AGGREGATE", None, "STREAMING", Seq(probe))
      val hashExch = Op(id(), "EXCHANGE", Some("HASH(k)"), "HASH(k)", Nil)
      val fin = Op(id(), "AGGREGATE", Some("FINALIZE"), "FINALIZE", Seq(hashExch))
      val rootExch = Op(id(), "EXCHANGE", Some("UNPARTITIONED"), "UNPARTITIONED", Nil)
      val nFrag = 3 + joins
      val root = Fragment(nFrag - 1, "UNPARTITIONED", rootExch, None, 1)
      val finF = Fragment(nFrag - 2, "HASH(k)", fin, Some((root.id, rootExch.id, "UNPARTITIONED")), hosts)
      val joinF = Fragment(nFrag - 3, "RANDOM", pre, Some((finF.id, hashExch.id, "HASH(k)")), hosts)
      val builds = buildFrags.zipWithIndex.map { case ((s, e), i) =>
        Fragment(i, "RANDOM", s, Some((joinF.id, e.id, "BROADCAST")), math.max(1, hosts - i % 3))
      }
      Seq(root, finF, joinF) ++ builds
    }
  }

  private def opsOf(op: Op): Seq[Op] = op +: op.children.flatMap(opsOf)

  private def planText(frags: Seq[Fragment], r: scala.util.Random): String = {
    val sb = new StringBuilder
    def render(op: Op, first: String, cont: String): Unit = {
      sb ++= first ++= f"${op.id}%02d:${op.name}" ++= op.planDetail.fold("")(d => s" [$d]") += '\n'
      val detail = cont + (if (op.children.nonEmpty) "|  " else "   ")
      if (op.name == "SCAN HDFS")
        sb ++= detail ++= s"partitions=${1 + r.nextInt(9)}/10 files=${1 + r.nextInt(40)} " ++=
          f"size=${1 + r.nextDouble() * 900}%.2fMB" += '\n'
      sb ++= detail ++= s"tuple-ids=${op.id % 7} row-size=${8 * (1 + r.nextInt(12))}B " ++=
        s"cardinality=${if (r.nextInt(10) == 0) "unavailable" else (1 + r.nextInt(1000000)).toString}" += '\n'
      op.children match {
        case Seq(build, probe) =>
          render(build, cont + "|--", cont + "|  ")
          render(probe, cont, cont)
        case Seq(c) => render(c, cont, cont)
        case _ => ()
      }
    }
    frags.foreach { f =>
      sb ++= f"F${f.id}%02d:PLAN FRAGMENT [${f.partition}]" += '\n'
      f.sink.foreach { case (fid, eid, kind) =>
        sb ++= f"  DATASTREAM SINK [FRAGMENT=F$fid%02d, EXCHANGE=$eid, $kind]" += '\n'
      }
      render(f.root, "  ", "  ")
    }
    sb.result().stripSuffix("\n")
  }

  private def fmtTime(ns: Long): String =
    if (ns >= 1000000000L) f"${ns / 1e9}%.3fs"
    else if (ns >= 1000000L) f"${ns / 1e6}%.3fms"
    else f"${ns / 1e3}%.3fus"
  private def fmtRows(n: Long): String =
    if (n >= 1000000L) f"${n / 1e6}%.2fM" else if (n >= 1000L) f"${n / 1e3}%.2fK" else n.toString
  private def fmtMem(b: Long): String =
    if (b == 0) "0" else f"${b / 1048576.0}%.2f MB"

  private final case class OpStats(perHostTime: Seq[Long], perHostRows: Seq[Long],
                                   perHostMem: Seq[Long])

  // --------------------------------------------------------------- profiles

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val baseEpochMicros = 1450000000L * 1000000L
  private val version = "impalad version 2.3.0-cdh5.5.0 RELEASE (build 0c891d7)"

  private def stamp(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)
      .format(tsFmt) + "000"

  private def node(name: String, counters: Seq[TCounter] = Nil,
                   info: Map[String, String] = Map.empty,
                   events: Seq[(String, Seq[ProfileEvent])] = Nil): ProfileNode =
    ProfileNode(name, 0, counters, 0L, indent = false, info, Nil, Map.empty, events)

  private def timeline(runtimeNs: Long, full: Boolean): Seq[ProfileEvent] =
    if (full) Seq(
      ProfileEvent("Start execution", 1000L),
      ProfileEvent("Planning finished", runtimeNs / 12),
      ProfileEvent("Ready to start remote fragments", runtimeNs / 11),
      ProfileEvent("Remote fragments started", runtimeNs / 8),
      ProfileEvent("Rows available", runtimeNs - runtimeNs / 10),
      ProfileEvent("First row fetched", runtimeNs - runtimeNs / 20),
      ProfileEvent("Unregister query", runtimeNs))
    else Seq(
      ProfileEvent("Start execution", 1000L),
      ProfileEvent("Planning finished", runtimeNs / 5),
      ProfileEvent("Unregister query", runtimeNs))

  private def summaryInfo(qtype: String, stmt: String, startMicros: Long,
                          runtimeNs: Long, coordinator: String): Map[String, String] = Map(
    "Query State" -> "FINISHED",
    "Query Status" -> "OK",
    "Query Type" -> qtype,
    "Sql Statement" -> stmt,
    "Start Time" -> stamp(startMicros),
    "End Time" -> stamp(startMicros + runtimeNs / 1000),
    "Impala Version" -> version,
    "Coordinator" -> coordinator)

  private def ddlTree(qid: String, stmt: String, startMicros: Long, runtimeNs: Long,
                      coordinator: String): ProfileTree = ProfileTree(Seq(
    node(s"Query (id=$qid)"),
    node("Summary", info = summaryInfo("DDL", stmt, startMicros, runtimeNs, coordinator),
      events = Seq("Query Timeline" -> timeline(runtimeNs, full = false))),
    node("ImpalaServer"),
    node(s"Execution Profile $qid")))

  private def selectTree(r: scala.util.Random, qid: String, stmt: String, startMicros: Long,
                         frags: Seq[Fragment], hostNames: Seq[String]): ProfileTree = {
    val allOps = frags.flatMap(f => opsOf(f.root).map(_ -> f))
    val stats: Map[Int, OpStats] = allOps.map { case (op, f) =>
      val base = 20000L + r.nextInt(50000000)
      val rows = 1L + r.nextInt(2000000)
      op.id -> OpStats(
        Seq.fill(f.hosts)(base + r.nextInt(1 + (base / 4).toInt)),
        Seq.fill(f.hosts)(rows / f.hosts + r.nextInt(1000)),
        Seq.fill(f.hosts)(if (op.name == "EXCHANGE") 0L else (1L + r.nextInt(64)) << 20))
    }.toMap
    val runtimeNs = 50000000L + stats.values.map(_.perHostTime.max).sum
    val summaryRows = allOps.sortBy(-_._1.id).map { case (op, f) =>
      val s = stats(op.id)
      f"${op.id}%02d:${op.name}%-18s${f.hosts}%6d  ${fmtTime(s.perHostTime.sum / f.hosts)}%9s  " +
        f"${fmtTime(s.perHostTime.max)}%9s  ${fmtRows(s.perHostRows.sum)}%8s  " +
        f"${fmtRows(s.perHostRows.sum + r.nextInt(100))}%10s  ${fmtMem(s.perHostMem.max)}%9s  " +
        f"${fmtMem(s.perHostMem.max * 2)}%13s  ${op.table.getOrElse(op.summaryDetail)}"
    }
    val execSummary = "\nOperator              #Hosts  Avg Time  Max Time   #Rows  Est. #Rows   " +
      "Peak Mem  Est. Peak Mem  Detail\n" + "-" * 100 + "\n" + summaryRows.mkString("\n")
    val coordinator = hostNames.head
    val info = summaryInfo("QUERY", stmt, startMicros, runtimeNs, coordinator) ++ Map(
      "ExecSummary" -> execSummary, "Plan" -> planText(frags, r))
    def opCounters(op: Op, h: Int): Seq[TCounter] = {
      val s = stats(op.id)
      Seq(TCounter("TotalTime", CounterType.TimeNs, s.perHostTime(h)),
        TCounter("RowsReturned", CounterType.Unit, s.perHostRows(h)),
        TCounter("PeakMemoryUsage", CounterType.Bytes, s.perHostMem(h)))
    }
    def avgCounters(op: Op): Seq[TCounter] = {
      val s = stats(op.id)
      def mean(vs: Seq[Long]) = Math.floorDiv(vs.sum, vs.size.toLong)
      Seq(TCounter("TotalTime", CounterType.TimeNs, mean(s.perHostTime)),
        TCounter("RowsReturned", CounterType.Unit, mean(s.perHostRows)),
        TCounter("PeakMemoryUsage", CounterType.Bytes, mean(s.perHostMem)))
    }
    def opNode(op: Op, cs: Seq[TCounter]) = node(s"${nodeKind(op.name)} (id=${op.id})", cs)
    def codeGen(v: Long) = node("CodeGen", Seq(TCounter("TotalTime", CounterType.TimeNs, v)))
    val sections = frags.flatMap { f =>
      val ops = opsOf(f.root)
      if (f.sink.isEmpty)
        Seq(node(f"Coordinator Fragment F${f.id}%02d"), codeGen(100000L)) ++
          ops.map(op => opNode(op, opCounters(op, 0)))
      else
        (node(f"Averaged Fragment F${f.id}%02d") +: codeGen(200000L) +:
          ops.map(op => opNode(op, avgCounters(op)))) ++
          (node(f"Fragment F${f.id}%02d") +: (0 until f.hosts).flatMap { h =>
            node(s"Instance $qid:$h (host=${hostNames(h % hostNames.size)})") +:
              codeGen(200000L) +: ops.map(op => opNode(op, opCounters(op, h)))
          })
    }
    val peak = hostNames.map(h => f"$h(${1 + r.nextInt(4096)}%.2f MB)").mkString(" ")
    ProfileTree(Seq(
      node(s"Query (id=$qid)"),
      node("Summary", info = info, events = Seq("Query Timeline" -> timeline(runtimeNs, full = true))),
      node("ImpalaServer"),
      node(s"Execution Profile $qid", info = Map("Per Node Peak Memory Usage" -> peak))) ++ sections)
  }

  // ------------------------------------------------------------------ dump

  private sealed trait Kind
  private case object Select extends Kind
  private case object Ddl extends Kind
  private case object Corrupt extends Kind

  private def corruptLine(r: scala.util.Random, prefix: String, good: String): String =
    r.nextInt(3) match {
      case 0 => s"$prefix ${good.substring(0, good.length / 3)}" // truncated payload
      case 1 => s"$prefix ${java.util.Base64.getEncoder.encodeToString(Array.fill(48)(r.nextInt(256).toByte))}"
      case _ => prefix // payload missing
    }

  private final case class Line(i: Int, text: String, kind: Kind, stmt: String,
                                 ops: Int, frags: Int)

  /** Lines are made in fixed-size chunks, each from its own seeded stream, so
    * a seed gives the same dump however the chunks are scheduled. */
  private val ChunkLines = 250

  def generate(p: Params, seed: Long): Dump = {
    val r = new scala.util.Random(seed)
    // statement pools: pool entries are reused verbatim across lines
    val nDdlPool = if (p.distinctStatements > 0) math.max(1, (p.distinctStatements * p.ddlShare).round.toInt) else 0
    val selectPool = (0 until math.max(0, p.distinctStatements - nDdlPool)).map(v =>
      if (p.longStatements) longSelect(r, v) else shortSelect(r, v))
    val ddlPool = (0 until nDdlPool).map(v => ddlStatement(r, v))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val made = try {
      (0 until p.lines by ChunkLines).map { start =>
        pool.submit(() => chunk(p, seed, start, math.min(p.lines, start + ChunkLines), selectPool, ddlPool))
      }.flatMap(_.get())
    } finally pool.shutdown()
    val good = made.filter(_.kind != Corrupt)
    Dump(made.map(_.text), Manifest(
      lines = p.lines.toLong, bytes = made.map(_.text.length.toLong + 1).sum,
      queries = good.size.toLong, operators = good.map(_.ops.toLong).sum,
      fragments = good.map(_.frags.toLong).sum, selectLike = good.count(_.kind == Select).toLong,
      ddl = good.count(_.kind == Ddl).toLong, corrupt = (made.size - good.size).toLong,
      statements = good.size.toLong, distinctStatements = good.map(_.stmt).distinct.size.toLong))
  }

  private val hostPool = (1 to 32).map(i => f"impalad$i%02d.example.com:22000")

  private def chunk(p: Params, seed: Long, from: Int, until: Int,
                    selectPool: IndexedSeq[String], ddlPool: IndexedSeq[String]): IndexedSeq[Line] = {
    val r = new scala.util.Random(seed * 1000003L + from)
    var clockMicros = baseEpochMicros + from * 1000000L
    val lines = (from until until).map { i =>
      clockMicros += r.nextInt(2000000)
      val qid = f"${seed & 0xffffL}%04x${i}%012x:${r.nextLong() & 0xffffffffL}%08x"
      val prefix = s"${clockMicros / 1000000L} $qid"
      val u = r.nextDouble()
      val kind = if (u < p.corruptShare) Corrupt else if (u < p.corruptShare + p.ddlShare) Ddl else Select
      val coordinator = hostPool(r.nextInt(hostPool.size))
      val (stmt, tree, nOps, nFrags) = kind match {
        case Ddl =>
          val s = if (ddlPool.nonEmpty) ddlPool(r.nextInt(ddlPool.size)) else ddlStatement(r, i)
          (s, ddlTree(qid, s, clockMicros, 5000000L + r.nextInt(100000000), coordinator), 0, 0)
        case _ =>
          val s = if (selectPool.nonEmpty) selectPool(r.nextInt(selectPool.size))
            else if (p.longStatements) longSelect(r, i) else shortSelect(r, i)
          val hosts = p.minHosts + r.nextInt(p.maxHosts - p.minHosts + 1)
          val wantOps = p.minOps + r.nextInt(p.maxOps - p.minOps + 1)
          val frags = plan(r, wantOps, hosts)
          val start = r.nextInt(hostPool.size)
          val names = (0 until hosts).map(h => hostPool((start + h) % hostPool.size))
          val tree = selectTree(r, qid, s, clockMicros, frags, names)
          (s, tree, frags.map(f => opsOf(f.root).size).sum, frags.size)
      }
      val good = s"$prefix ${encode(tree)}"
      val text = if (kind == Corrupt) corruptLine(r, prefix, good) else good
      Line(i, text, kind, stmt, nOps, nFrags)
    }
    selfCheck(lines)
    lines
  }

  /** Round-trips every planted corrupt line and a sample of good lines
    * through the analyzer's own decode + parse, so a generator bug fails
    * here instead of showing up as an ingest mismatch. */
  private def selfCheck(lines: Seq[Line]): Unit =
    lines.foreach { l =>
      if (l.kind == Corrupt)
        require(ProfileIngest.parseLine(l.text, "check").isEmpty, s"planted corrupt line ${l.i} decodes")
      else if (l.i % 25 == 0) {
        val (tree, qid) = ProfileIngest.decodeLine(l.text)
        val parsed = ProfileParser.parse(tree, "check", qid)
          .getOrElse(sys.error(s"generated line ${l.i} parses to nothing"))
        require(parsed.query.stmt == l.stmt, s"line ${l.i}: statement mismatch")
        require(parsed.query.query_type == (if (l.kind == Ddl) "DDL" else "QUERY"), s"line ${l.i}: type")
        require(parsed.operators.size == l.ops && parsed.fragments.size == l.frags,
          s"line ${l.i}: ${parsed.operators.size}/${parsed.fragments.size} operators/fragments, " +
            s"expected ${l.ops}/${l.frags}")
      }
    }
}
