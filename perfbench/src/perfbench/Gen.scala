package perfbench

import java.io.File

import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generators. Inputs are written with the plain parquet
  * writer, not Spark, so generating them needs no session and stays out of
  * the measured set-up time. The same seed always gives the same bytes.
  */
object Gen {
  private val conf = new Configuration()

  /** Column kinds the generators emit. */
  sealed trait Kind
  case object I64 extends Kind
  case object I32 extends Kind
  case object F64 extends Kind
  case object Str extends Kind
  case object F32s extends Kind

  case class Col(name: String, kind: Kind)

  /** One parquet table in Spark's directory layout: `<path>/part-00000.parquet`. */
  def writeTable(path: String, cols: Seq[Col], rows: Iterator[Array[Any]]): Unit = {
    val fields = cols.map {
      case Col(n, I64)  => s"required int64 $n;"
      case Col(n, I32)  => s"required int32 $n;"
      case Col(n, F64)  => s"required double $n;"
      case Col(n, Str)  => s"required binary $n (STRING);"
      case Col(n, F32s) =>
        s"required group $n (LIST) { repeated group list { required float element; } }"
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message t { ", " ", " }"))
    new File(path).mkdirs()
    val writer = ExampleParquetWriter.builder(new Path(s"$path/part-00000.parquet"))
      .withConf(conf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        c.kind match {
          case I64 => g.append(c.name, r(i).asInstanceOf[Long])
          case I32 => g.append(c.name, r(i).asInstanceOf[Int])
          case F64 => g.append(c.name, r(i).asInstanceOf[Double])
          case Str => g.append(c.name, r(i).asInstanceOf[String])
          case F32s =>
            val list = g.addGroup(c.name)
            r(i).asInstanceOf[Array[Float]].foreach(x => list.addGroup("list").append("element", x))
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
  }

  // ---------------------------------------------------------------- lakes

  private val entities = Seq(
    "customer", "product", "store", "supplier", "employee", "account", "region",
    "campaign", "device", "invoice", "shipment", "warehouse", "vendor", "contract",
    "policy", "claim", "patient", "doctor", "course", "student", "ticket", "agent",
    "branch", "merchant", "payment", "channel", "promotion", "category", "brand",
    "carrier", "route", "vehicle", "driver", "project", "team", "asset", "ledger",
    "member", "partner", "venue")
  private val factWords = Seq(
    "sales", "returns", "visits", "clicks", "bookings", "refunds", "orders",
    "deliveries", "rentals", "trades", "pageviews", "transfers", "readings", "shifts")
  // no entity name may prefix another table's base name: the classifier
  // takes a key whose stem prefixes its own table's name for that table's PK
  private val linkWords = Seq(
    "purchase", "assignment", "enrollment", "ownership", "referral", "sponsorship")

  /** Shape of a lake; fixed per seed, so every dataset of one run has the
    * same roles and detection result, only names and data differ.
    */
  case class LakeShape(
      dims: Int, facts: Int, hubs: Int, links: Int, sats: Int,
      dimRows: Seq[Int], factRows: Seq[Int], hubRows: Seq[Int],
      factFks: Seq[Seq[Int]], linkHubs: Seq[(Int, Int)], satHub: Seq[Int])

  /** `scale` multiplies row counts; the table count is fixed by the shape. */
  def lakeShape(seed: Long, dims: Int, facts: Int, hubs: Int, links: Int, sats: Int,
      scale: Double): LakeShape = {
    val r = new Random(seed * 7919L + 17L)
    def rows(lo: Int, hi: Int) = math.max(20, ((lo + r.nextInt(hi - lo + 1)) * scale).toInt)
    // dims 0 and 1 are the hot hub dimensions most facts reference
    val fks = (0 until facts).map { f =>
      val hot = if (f % 4 == 3) Seq(0) else Seq(0, 1)
      val other = 2 + r.nextInt(math.max(1, dims - 2))
      (hot :+ math.min(other, dims - 1)).distinct
    }
    val lh = (0 until links).map { _ =>
      val a = r.nextInt(hubs)
      (a, (a + 1 + r.nextInt(hubs - 1)) % hubs)
    }
    LakeShape(dims, facts, hubs, links, sats,
      Seq.fill(dims)(rows(450, 550)), Seq.fill(facts)(rows(5000, 6000)),
      Seq.fill(hubs)(rows(450, 550)), fks, lh, (0 until sats).map(_ % hubs))
  }

  /** A generated lake: its directory, the FK edges planted in it
    * (source_table, source_column, target_table, target_column) and the
    * name → role map used to compare outputs across datasets.
    */
  case class Lake(dir: String, tables: Seq[String], planted: Set[(String, String, String, String)],
      roles: Map[String, String])

  private def words(r: Random, n: Int): String =
    Seq.fill(n)(entities(r.nextInt(entities.length)).take(3 + r.nextInt(4))).mkString(" ")

  /** Write one lake for `(seed, variant)`: entity names and data come from
    * the variant, the role structure from `shape`.
    */
  def writeLake(dir: String, shape: LakeShape, seed: Long, variant: Long): Lake = {
    val r = new Random(seed * 1000003L + variant * 7907L + 5L)
    val ents = r.shuffle(entities).take(shape.dims + shape.hubs)
    val dimEnt = ents.take(shape.dims)
    val hubEnt = ents.drop(shape.dims)
    val factEnt = r.shuffle(factWords).take(shape.facts)
    val linkEnt = r.shuffle(linkWords).take(shape.links)
    val roles = dimEnt.zipWithIndex.map { case (e, i) => e -> s"D$i" } ++
      hubEnt.zipWithIndex.map { case (e, i) => e -> s"H$i" } ++
      factEnt.zipWithIndex.map { case (e, i) => e -> s"F$i" } ++
      linkEnt.zipWithIndex.map { case (e, i) => e -> s"L$i" }
    val planted = Set.newBuilder[(String, String, String, String)]
    val tables = Seq.newBuilder[String]
    def table(name: String, cols: Seq[Col], n: Int)(row: Int => Array[Any]): Unit = {
      writeTable(s"$dir/$name.parquet", cols, Iterator.range(0, n).map(row))
      tables += name
    }
    dimEnt.zipWithIndex.foreach { case (e, i) =>
      table(s"dim_$e", Seq(Col(s"${e}_id", I64), Col(s"${e}_name", Str),
        Col(s"${e}_code", Str), Col("segment", Str), Col("created_day", I32)),
        shape.dimRows(i)) { k =>
        Array[Any](k + 1L, words(r, 2), f"C$k%06d", s"seg${r.nextInt(5)}", 18000 + r.nextInt(2000))
      }
    }
    factEnt.zipWithIndex.foreach { case (f, i) =>
      val fks = shape.factFks(i)
      fks.foreach(d => planted += ((s"fact_$f", s"${dimEnt(d)}_id", s"dim_${dimEnt(d)}", s"${dimEnt(d)}_id")))
      val cols = Col(s"${f}_id", I64) +: fks.map(d => Col(s"${dimEnt(d)}_id", I64)) :+
        Col("amount", F64) :+ Col("quantity", I32) :+ Col("note", Str)
      table(s"fact_$f", cols, shape.factRows(i)) { k =>
        // hot dimensions get a skewed key distribution, the rest uniform
        val keys = fks.map { d =>
          val n = shape.dimRows(d)
          val u = r.nextDouble()
          1L + (if (d < 2) (u * u * n).toLong else r.nextInt(n).toLong)
        }
        (Seq[Any](k + 1L) ++ keys ++ Seq[Any](math.round(r.nextDouble() * 1e6) / 100.0,
          1 + r.nextInt(20), words(r, 3))).toArray
      }
    }
    hubEnt.zipWithIndex.foreach { case (e, i) =>
      table(s"h_$e", Seq(Col(s"${e}_hk", I64), Col(s"${e}_bk", Str), Col("load_ts", I64),
        Col("record_source", Str)), shape.hubRows(i)) { k =>
        Array[Any](k + 1L, f"BK$k%07d", 1700000000000L + r.nextInt(1000000), "crm")
      }
    }
    linkEnt.zipWithIndex.foreach { case (l, i) =>
      val (a, b) = shape.linkHubs(i)
      val (ea, eb) = (hubEnt(a), hubEnt(b))
      planted += ((s"l_$l", s"${ea}_hk", s"h_$ea", s"${ea}_hk"))
      planted += ((s"l_$l", s"${eb}_hk", s"h_$eb", s"${eb}_hk"))
      table(s"l_$l", Seq(Col(s"${ea}_hk", I64), Col(s"${eb}_hk", I64), Col("load_ts", I64),
        Col("record_source", Str)), shape.hubRows(a) * 2) { _ =>
        Array[Any](1L + r.nextInt(shape.hubRows(a)), 1L + r.nextInt(shape.hubRows(b)),
          1700000000000L + r.nextInt(1000000), "erp")
      }
    }
    shape.satHub.zipWithIndex.foreach { case (h, i) =>
      val e = hubEnt(h)
      val name = if (i < shape.hubs) s"s_${e}_detail" else s"s_${e}_history"
      planted += ((name, s"${e}_hk", s"h_$e", s"${e}_hk"))
      table(name, Seq(Col(s"${e}_hk", I64), Col("load_ts", I64), Col("attr_text", Str),
        Col("attr_num", F64)), shape.hubRows(h)) { k =>
        Array[Any](k + 1L, 1700000000000L + r.nextInt(1000000), words(r, 4), r.nextDouble())
      }
    }
    Lake(dir, tables.result(), planted.result(), roles.toMap)
  }

  // --------------------------------------------------------------- corpus

  /** A generated corpus with its ground truth. `families` are the planted
    * near-duplicate families (doc ids, base first), `exactGroups` the planted
    * byte-identical copies, `spam` the repetitive docs, `contaminated` the
    * docs that embed an eval span and `vecGroups` the planted tight groups
    * of embeddings (vector ids, which are doc ids).
    */
  case class Corpus(dir: String, n: Int, texts: Array[String],
      families: Seq[Seq[Long]], exactGroups: Seq[Seq[Long]], spam: Set[Long],
      contaminated: Set[Long], vecGroups: Seq[Seq[Long]])

  private val syllables = Seq("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa",
    "ro", "ze", "fu", "ga", "li", "mo", "ne", "sa", "tu", "be", "co", "di", "ha", "je")

  /** `docs` corpus documents, `vectors` embeddings (vector i belongs to doc
    * i), and a held-out eval set of `evalDocs` documents.
    */
  def writeCorpus(dir: String, seed: Long, docs: Int, vectors: Int, evalDocs: Int,
      dim: Int = 32): Corpus = {
    val r = new Random(seed * 31337L + 11L)
    val vocab = Array.tabulate(6000) { i =>
      val rr = new Random(i * 97L + 3L)
      Seq.fill(2 + rr.nextInt(3))(syllables(rr.nextInt(syllables.length))).mkString + (i % 10)
    }
    // mildly skewed word draw: frequent words exist, but chance trigram
    // collisions between unrelated documents stay rare
    def word(): String = vocab((math.pow(r.nextDouble(), 1.6) * vocab.length).toInt)
    def doc(len: Int): Array[String] = Array.fill(len)(word())
    val evalTexts = Array.fill(evalDocs)(doc(50 + r.nextInt(40)))
    // A fixed mix per corpus size; the seed changes content and order only,
    // so the work (pair mass above all) is alike across seeds.
    sealed trait Kind
    case class Family(size: Int) extends Kind // near-duplicates of one base
    case object Exact extends Kind            // two byte-identical copies
    case object Spam extends Kind             // repetition the gate drops
    case object Leak extends Kind             // carries an eval span
    case object Fresh extends Kind
    val planned: Seq[Kind] = Seq.fill(math.max(1, docs / 600))(Family(20)) ++
      (0 until docs * 35 / 1000).map(k => Family(2 + k % 2)) ++
      Seq.fill(docs * 15 / 1000)(Exact) ++ Seq.fill(docs * 4 / 100)(Spam) ++
      Seq.fill(docs * 2 / 100)(Leak)
    def size(k: Kind): Int = k match {
      case Family(n) => n
      case Exact => 2
      case _ => 1
    }
    val kinds = r.shuffle(planned ++ Seq.fill(docs - planned.map(size).sum)(Fresh))
    val texts = new Array[String](docs)
    val families = Seq.newBuilder[Seq[Long]]
    val exact = Seq.newBuilder[Seq[Long]]
    val spam = Set.newBuilder[Long]
    val contaminated = Set.newBuilder[Long]
    var i = 0
    kinds.foreach { k =>
      k match {
        case Family(n) =>
          val base = doc(60 + r.nextInt(60))
          texts(i) = base.mkString(" ")
          (1 until n).foreach { j =>
            val v = base.clone()
            (0 until math.max(1, v.length / 40)).foreach(_ => v(r.nextInt(v.length)) = word())
            texts(i + j) = v.mkString(" ")
          }
          families += (i until i + n).map(_.toLong)
        case Exact =>
          val t = doc(40 + r.nextInt(60)).mkString(" ")
          texts(i) = t
          texts(i + 1) = t
          exact += Seq(i.toLong, i + 1L)
        case Spam =>
          val phrase = doc(3).mkString(" ")
          texts(i) = Seq.fill(12 + r.nextInt(10))(phrase).mkString(" ")
          spam += i.toLong
        case Leak =>
          val e = evalTexts(r.nextInt(evalDocs))
          val start = r.nextInt(e.length - 30)
          texts(i) = (doc(15) ++ e.slice(start, start + 30) ++ doc(15)).mkString(" ")
          contaminated += i.toLong
        case Fresh =>
          texts(i) = doc(30 + r.nextInt(90)).mkString(" ")
      }
      i += size(k)
    }
    val langs = Array("en", "de", "fr")
    val sources = Array("web", "news", "forum", "wiki")
    writeTable(s"$dir/documents.parquet",
      Seq(Col("doc_id", I64), Col("text", Str), Col("lang", Str), Col("source", Str)),
      Iterator.range(0, docs).map(k =>
        Array[Any](k.toLong, texts(k), langs(k % 3), sources((k / 3) % 4))))
    writeTable(s"$dir/eval.parquet", Seq(Col("doc_id", I64), Col("text", Str)),
      Iterator.range(0, evalDocs).map(k => Array[Any](k.toLong, evalTexts(k).mkString(" "))))
    // embeddings: eight equal topics (a loose cloud around each centre, so
    // the semantic-dedup cells and their pair counts are alike across seeds)
    // plus a fixed number of tight triples
    val topics = Array.fill(8)(Array.fill(dim)(r.nextGaussian().toFloat))
    val groups = vectors * 3 / 100
    val grouped = r.shuffle(Seq.fill(groups)(3) ++ Seq.fill(vectors - 3 * groups)(1))
    val vecs = new Array[Array[Float]](vectors)
    val vecGroups = Seq.newBuilder[Seq[Long]]
    var j = 0
    grouped.zipWithIndex.foreach { case (n, g) =>
      if (n > 1) vecGroups += (j until j + n).map(_.toLong)
      val base = topics(g % topics.length).map(x => x + r.nextGaussian().toFloat)
      (0 until n).foreach(k => vecs(j + k) =
        if (n == 1) base else base.map(x => x + (r.nextGaussian() * 0.02).toFloat))
      j += n
    }
    writeTable(s"$dir/embeddings.parquet", Seq(Col("vec_id", I64), Col("embedding", F32s)),
      Iterator.range(0, vectors).map(k => Array[Any](k.toLong, vecs(k))))
    Corpus(dir, docs, texts, families.result(), exact.result(), spam.result(),
      contaminated.result(), vecGroups.result())
  }
}
