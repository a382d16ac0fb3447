package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{JdbcUpsert, Tables}
import graft.ops.{Coerce, Normalize}

/** One generated LMS user in the reference's record shape (36 fields plus
  * `customFields`). Dates are UTC epoch seconds; `employeeNumber` may be
  * rendered with the float artifact `.0` that the load stage scrubs. */
final case class LmsUser(id: Long, departmentId: String, firstName: String,
    middleName: String, lastName: String, username: String, email: String,
    externalId: String, cc: Seq[String], languageId: Int, gender: String,
    address: String, address2: String, city: String, provinceId: Int,
    countryId: Int, postalCode: String, phone: String,
    employeeNumber: Option[Long], employeeAsFloat: Boolean, location: String,
    jobTitle: String, referenceNumber: String, dateHired: Long,
    dateTerminated: Option[Long], dateEdited: Long, dateAdded: Long,
    lastLogin: Long, lastLoginIso: Boolean, notes: String, roleIds: Seq[Int],
    activeStatus: Int, isLearner: Boolean, isAdmin: Boolean,
    isInstructor: Boolean, isManager: Boolean, supervisorId: Option[Long],
    hasUsername: Boolean, cohort: String, badge: String, mentor: String)

object LmsUser {
  private val us = DateTimeFormatter.ofPattern("MM-dd-yyyy HH:mm:ss").withZone(ZoneOffset.UTC)
  private val firsts = Array("Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald",
    "Frances", "John", "Margaret", "Ken", "Radia", "Tim", "Leslie", "Niklaus")
  private val lasts = Array("Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov",
    "Knuth", "Allen", "Backus", "Hamilton", "Thompson", "Perlman", "Lee", "Lamport")
  private val cities = Array("London", "Toronto", "Berlin", "Lyon", "Austin", "Osaka")
  private val titles = Array("Engineer", "Analyst", "Manager", "Instructor", "Clerk")
  private val notesPool = Array("""Prefers "email", not phone""", "Transferred, see HR file",
    "On leave; returns Q3", """Badge "B-7" reissued""")
  private val Epoch2015 = 1420070400L
  private val TenYears = 315360000L

  /** The user `id` as seen on `night` (0 = previous, 1 = tonight). */
  def gen(seed: Long, id: Long, night: Int): LmsUser = {
    val r = new SplittableRandom(seed * 1000003L + id * 31L + night)
    def pick[T](a: Array[T]) = a(r.nextInt(a.length))
    def maybe[T](pNull: Int)(v: => T): Option[T] = if (r.nextInt(100) < pNull) None else Some(v)
    val first = pick(firsts)
    val last = pick(lasts)
    val added = Epoch2015 + r.nextLong(TenYears)
    val edited = added + r.nextLong(86400L * 365)
    LmsUser(id, s"d-${id % 50}", first, maybe(70)(pick(firsts)).orNull, last,
      s"${first.toLowerCase}.${last.toLowerCase}$id",
      s"${first.toLowerCase}.${last.toLowerCase}.$night.$id@example.org", s"E-$id",
      (0 until r.nextInt(3)).map(i => s"cc$i.$id@example.org"), 1 + r.nextInt(5),
      pick(Array("F", "M", "X")), s"${1 + r.nextInt(999)} Main St",
      maybe(70)(s"Unit ${1 + r.nextInt(99)}").orNull, pick(cities), 1 + r.nextInt(13),
      pick(Array(1, 44, 49, 33, 81)), f"A${r.nextInt(10)}B ${r.nextInt(10)}C${r.nextInt(10)}",
      f"555-${r.nextInt(10000)}%04d", maybe(10)(1000L + r.nextInt(90000)), r.nextInt(10) == 0,
      pick(Array("HQ", "Remote", "Plant 2")), pick(titles), maybe(50)(f"R-${r.nextInt(10000)}%04d").orNull,
      added, maybe(85)(added + r.nextLong(86400L * 900)), edited, added,
      edited + r.nextLong(86400L * 30), r.nextInt(10) < 3, maybe(50)(pick(notesPool)).orNull,
      (0 until 1 + r.nextInt(3)).map(_ => 1 + r.nextInt(9)), r.nextInt(2), r.nextBoolean(),
      r.nextBoolean(), r.nextBoolean(), r.nextBoolean(), maybe(20)(r.nextLong(100000L)),
      hasUsername = true, maybe(20)(s"20${10 + r.nextInt(15)}A").orNull,
      maybe(60)(s"gold${r.nextInt(5)}").orNull, maybe(40)(pick(firsts).toLowerCase).orNull)
  }

  /** Tonight's record of a user last night already held. The nightly
    * extract pages through every user, so most users come back
    * unchanged; `changedPct` percent were edited since and carry new
    * values and a later `dateEdited`. */
  def tonight(seed: Long, prev: LmsUser, changedPct: Int): LmsUser = {
    val r = new SplittableRandom(seed ^ (prev.id * 0x9e3779b97f4a7c15L))
    if (r.nextInt(100) >= changedPct) prev
    else gen(seed, prev.id, 1).copy(dateAdded = prev.dateAdded,
      dateEdited = prev.dateEdited + 3600L * (1 + r.nextInt(24 * 30)))
  }

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def date(sec: Long): String = q(us.format(Instant.ofEpochSecond(sec)))

  def json(u: LmsUser): String = {
    val sb = new StringBuilder(1024)
    def f(k: String, v: String): Unit = { if (sb.length > 1) sb += ','; sb ++= q(k) += ':' ++= v }
    sb += '{'
    f("id", u.id.toString); f("departmentId", q(u.departmentId)); f("firstName", q(u.firstName))
    f("middleName", q(u.middleName)); f("lastName", q(u.lastName)); f("username", q(u.username))
    f("emailAddress", q(u.email)); f("externalId", q(u.externalId))
    f("ccEmailAddresses", u.cc.map(q).mkString("[", ",", "]")); f("languageId", u.languageId.toString)
    f("gender", q(u.gender)); f("address", q(u.address)); f("address2", q(u.address2))
    f("city", q(u.city)); f("provinceId", u.provinceId.toString); f("countryId", u.countryId.toString)
    f("postalCode", q(u.postalCode)); f("phone", q(u.phone))
    f("employeeNumber", u.employeeNumber.map(n => q(if (u.employeeAsFloat) s"$n.0" else n.toString)).getOrElse("null"))
    f("location", q(u.location)); f("jobTitle", q(u.jobTitle)); f("referenceNumber", q(u.referenceNumber))
    f("dateHired", date(u.dateHired)); f("dateTerminated", u.dateTerminated.map(date).getOrElse("null"))
    f("dateEdited", date(u.dateEdited)); f("dateAdded", date(u.dateAdded))
    f("lastLoginDate", if (u.lastLoginIso) q(Instant.ofEpochSecond(u.lastLogin).toString) else date(u.lastLogin))
    f("notes", q(u.notes)); f("roleIds", u.roleIds.mkString("[", ",", "]"))
    f("activeStatus", u.activeStatus.toString); f("isLearner", u.isLearner.toString)
    f("isAdmin", u.isAdmin.toString); f("isInstructor", u.isInstructor.toString)
    f("isManager", u.isManager.toString); f("supervisorId", u.supervisorId.map(_.toString).getOrElse("null"))
    f("hasUsername", u.hasUsername.toString)
    f("customFields", s"""{"cohort":${q(u.cohort)},"badge":${q(u.badge)},"mentor":${q(u.mentor)}}""")
    sb += '}'
    sb.toString
  }

  /** The row the load stage must produce for `u`, in [[LmsNightly.Target]]
    * order: missing strings become the single-space sentinel, JSON columns
    * omit null entries. */
  def canonical(u: LmsUser): Seq[Any] = {
    def s(v: String): String = if (v == null) " " else v
    def t(sec: Long) = Micros(sec * 1000000L)
    val custom = Seq("cohort" -> u.cohort, "badge" -> u.badge, "mentor" -> u.mentor)
      .filter(_._2 != null).map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    Seq[Any](u.id, u.departmentId, u.firstName, s(u.middleName), u.lastName, u.username,
      u.email, u.externalId, u.cc.map(q).mkString("[", ",", "]"), u.languageId.toLong, u.gender,
      u.address, s(u.address2), u.city, u.provinceId.toLong, u.countryId.toLong, u.postalCode,
      u.phone, u.employeeNumber.map(Long.box).orNull, u.location, u.jobTitle,
      s(u.referenceNumber), t(u.dateHired), u.dateTerminated.map(t).orNull, t(u.dateEdited),
      t(u.dateAdded), t(u.lastLogin), s(u.notes), u.roleIds.mkString("[", ",", "]"),
      u.activeStatus, u.isLearner, u.isAdmin, u.isInstructor, u.isManager,
      u.supervisorId.map(Long.box).orNull, u.hasUsername, custom)
  }
}

/** The paper's own two-stage chain at scale: live REST extract, then
  * normalize to a CSV boundary, then coerce and upsert the night into a
  * Parquet target and an embedded Derby target that both hold the
  * previous night. */
final class LmsNightly(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import LmsNightly._

  private val (nUsers, nNew, changedPct) = Size
  private val nPrevious = nUsers - nNew

  private var dir: Path = _
  private var expected = (0L, 0L)
  private var extractTruth = (0L, 0L, 0L)
  private var extracted = (-1L, -1L, -1L)
  private def landed = dir.resolve("landed").toString
  private def csv = dir.resolve("csv").toString
  private def seedParquet = dir.resolve("seed.parquet")
  private def target = dir.resolve("target.parquet")
  private var server: LmsServer = _
  private val derbyUrl =
    s"jdbc:derby:memory:perfbench_${java.util.UUID.randomUUID().toString.take(8)};create=true"
  private var passNo = 0

  def rows: Long = nUsers.toLong
  def warmPasses: Int = 3
  def sizes: Map[String, Long] = Map("users_tonight" -> nUsers.toLong,
    "users_previous" -> nPrevious.toLong, "users_new" -> nNew.toLong,
    "users_changed_pct" -> changedPct.toLong, "page_size" -> PageSize.toLong)

  private var prev: IndexedSeq[LmsUser] = _
  private var pages: Array[Array[Byte]] = _
  private var firstUser: String = _

  def generate(): Unit = {
    prev = (1L to nPrevious.toLong).par.map(id => LmsUser.gen(seed, id, 0)).seq.toIndexedSeq
    // tonight is a full extract: every user of last night, then the new ones
    val tonight = (prev.par.map(p => LmsUser.tonight(seed, p, changedPct)) ++
      (nPrevious + 1L to nUsers.toLong).par.map(id => LmsUser.gen(seed, id, 1))).seq.toIndexedSeq
    // expected target: last writer (by dateEdited, ties to tonight) wins
    val merged = prev.map(u => u.id -> u).toMap ++ tonight.filter { u =>
      u.id > nPrevious || u.dateEdited >= prev((u.id - 1).toInt).dateEdited
    }.map(u => u.id -> u)
    expected = (merged.size.toLong,
      merged.values.toSeq.par.map(u => Checksum.ofValues(LmsUser.canonical(u))).sum)
    extractTruth = (tonight.size.toLong, tonight.map(_.id).sum, tonight.map(_.activeStatus.toLong).sum)
    // envelope pages: served by the API and landed as JSON lines, same bytes
    pages = tonight.grouped(PageSize).toSeq.zipWithIndex.par.map { case (us, p) =>
      (s"""{"totalItems":${tonight.size},"limit":$PageSize,"offset":${p * PageSize},""" +
        s""""returnedItems":${us.size},"users":[${us.map(LmsUser.json).mkString(",")}]}""")
        .getBytes(StandardCharsets.UTF_8)
    }.toArray
    firstUser = LmsUser.json(tonight.head)
  }

  def materialize(into: Path): Unit = {
    dir = into
    Files.createDirectories(dir.resolve("landed"))
    pages.grouped(math.max(1, pages.length / (2 * cores))).zipWithIndex.foreach { case (ps, i) =>
      val os = Files.newOutputStream(dir.resolve("landed").resolve(f"part-$i%05d.json"))
      try ps.foreach { p => os.write(p); os.write('\n') } finally os.close()
    }
    // previous night, written by the benchmark, not by the product
    val seedDf = spark.createDataFrame(
      java.util.Arrays.asList(prev.map(u => Row.fromSeq(LmsUser.canonical(u).map(toSpark))): _*), Target)
    seedDf.write.mode("overwrite").parquet(seedParquet.toString)
    withDerby { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE seed") catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE seed ($derbyColumns)")
      st.close()
    }
    seedDf.repartition(cores).write.mode("append").jdbc(derbyUrl, "seed", new java.util.Properties())
    server = new LmsServer(cores, ApiKey, Password, pages, PageSize, nUsers, firstUser)
    prev = null
    pages = null
  }

  def reset(): Unit = {
    Fs.deleteRecursively(target)
    Fs.deleteRecursively(java.nio.file.Paths.get(csv))
    Fs.copyDir(seedParquet, target)
    withDerby { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE target") catch { case _: java.sql.SQLException => () }
      st.execute(s"CREATE TABLE target ($derbyColumns, PRIMARY KEY (lms_user_id))")
      st.execute("INSERT INTO target SELECT * FROM seed")
      st.close()
    }
  }

  def pass(tr: Tracer): Unit = {
    passNo += 1
    extracted = tr.span("sources.rest_extract") {
      val r = spark.read.format("graft.sources.PagedRestSource")
        .option("url", server.baseUrl)
        .option("username", s"etl-run-$passNo") // each nightly run authenticates afresh
        .option("password", Password).option("privateKey", ApiKey)
        .option("pageSize", PageSize.toLong).option("pagesPerPartition", 2L)
        .load()
        .agg(count(lit(1)), sum("lms_user_id"), sum("active_status")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    tr.span("ops.normalize_to_csv") {
      val raw = spark.read.schema(Envelope).json(landed)
      val flat = Normalize.flatten(Normalize.stripEnvelope(raw, "users"))
      val users = flat.select(flat.columns.toSeq.map(c => col(s"`$c`").as(c.stripPrefix("users."))): _*)
      val renamed = Normalize.renameColumns(users, Normalize.referenceRenames)
      val cf = renamed.columns.filter(_.startsWith("customFields.")).toSeq
      val consolidated = Normalize.consolidateToJson(renamed, cf, "custom_fields")
      Tables.writeCsv(jsonStandIn(consolidated), csv)
    }
    tr.span("ops.coerce_merge") {
      val coerced = Coerce.toSchema(Tables.readCsvRaw(spark, csv), Target)
      JdbcUpsert.mergeIntoParquet(spark, target.toString, coerced,
        Seq("lms_user_id"), Seq("date_edited"))
    }
    tr.span("io.jdbc_upsert") {
      val coerced = Coerce.toSchema(Tables.readCsvRaw(spark, csv), Target)
      try JdbcUpsert.writeWith(mergeParams(coerced), mergeSql("target"),
        CountingJdbc.factory(derbyUrl), batchSize = 500)
      catch {
        case e: Throwable =>
          throw new RuntimeException(s"JDBC upsert failed; first JDBC error: ${CountingJdbc.firstError.get}", e)
      }
    }
  }

  def check(ops: Ops): Unit = {
    ops.check("extract", extracted == extractTruth, s"got $extracted, want $extractTruth")
    val parquet = Checksum.ofFrame(spark.read.parquet(target.toString))
    ops.check("parquet target", parquet == expected,
      s"(rows, checksum) $parquet want $expected")
    val derby = withDerby { c =>
      val rs = c.createStatement().executeQuery(
        s"SELECT ${Target.fieldNames.mkString(", ")} FROM target")
      var n = 0L
      var h = 0L
      val w = Target.fields.length
      while (rs.next()) {
        n += 1
        h += Checksum.ofValues((1 to w).map(i => rs.getObject(i)))
      }
      rs.close()
      (n, h)
    }
    ops.check("derby target", derby == expected,
      s"(rows, checksum) $derby want $expected")
    val (req, bad, conns, rollbacks) =
      (server.requests.get, server.non200.get, CountingJdbc.connections.get, CountingJdbc.rollbacks.get)
    ops.add("http requests", req - seen._1, bad - seen._2)
    ops.add("jdbc partitions", conns - seen._3, rollbacks - seen._4)
    Option(CountingJdbc.firstError.getAndSet(null)).foreach(e => ops.check("jdbc", ok = false, e))
    seen = (req, bad, conns, rollbacks)
  }

  /** Counter values already accounted for in `ops`. */
  private var seen = (0L, 0L, 0L, 0L)

  override def counters: Map[String, Double] = Map(
    "sources.http_requests" -> server.requests.get.toDouble,
    "sources.auth_requests" -> server.authRequests.get.toDouble,
    "sources.page_ms_p50" -> server.pageMsP50,
    "io.jdbc_connections" -> CountingJdbc.connections.get.toDouble,
    "io.jdbc_batches" -> CountingJdbc.batches.get.toDouble,
    "io.jdbc_commits" -> CountingJdbc.commits.get.toDouble)

  override def resetCounters(): Unit = {
    server.resetCounters()
    CountingJdbc.reset()
    seen = (0L, 0L, 0L, 0L)
  }

  override def close(): Unit = {
    if (server != null) server.stop()
    try java.sql.DriverManager.getConnection(derbyUrl.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () }
  }

  private def withDerby[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try f(c) finally c.close()
  }
}

object LmsNightly {
  /** Users tonight (a full extract), users new tonight, and the percent
    * of returning users edited since last night. The last two are
    * assumptions, not measured traffic. */
  val Size = (10000, 200, 5)
  val PageSize = 500
  val ApiKey = "bench-private-key"
  val Password = "bench-pass"

  /** Load-stage target schema, the reference's 36 renamed fields plus
    * the consolidated `custom_fields`. */
  val Target: StructType = StructType(Seq(
    "lms_user_id" -> LongType, "department_id" -> StringType, "first_name" -> StringType,
    "middle_name" -> StringType, "last_name" -> StringType, "user_name" -> StringType,
    "email_address" -> StringType, "illum_id" -> StringType, "cc_email_addresses" -> StringType,
    "language_id" -> LongType, "gender" -> StringType, "address" -> StringType,
    "address2" -> StringType, "city" -> StringType, "province_id" -> LongType,
    "country_id" -> LongType, "postal_code" -> StringType, "phone" -> StringType,
    "employee_number" -> LongType, "location" -> StringType, "job_title" -> StringType,
    "reference_number" -> StringType, "date_hired" -> TimestampType,
    "date_terminated" -> TimestampType, "date_edited" -> TimestampType,
    "date_added" -> TimestampType, "last_login_date" -> TimestampType, "notes" -> StringType,
    "role_ids" -> StringType, "active_status" -> IntegerType, "is_learner" -> BooleanType,
    "is_admin" -> BooleanType, "is_instructor" -> BooleanType, "is_manager" -> BooleanType,
    "supervisor_id" -> LongType, "has_user_name" -> BooleanType, "custom_fields" -> StringType
  ).map { case (n, t) => StructField(n, t) })

  /** The API envelope as the generator writes it. */
  val Envelope: StructType = {
    val user = StructType(Seq(
      "id" -> LongType, "departmentId" -> StringType, "firstName" -> StringType,
      "middleName" -> StringType, "lastName" -> StringType, "username" -> StringType,
      "emailAddress" -> StringType, "externalId" -> StringType,
      "ccEmailAddresses" -> ArrayType(StringType), "languageId" -> LongType,
      "gender" -> StringType, "address" -> StringType, "address2" -> StringType,
      "city" -> StringType, "provinceId" -> LongType, "countryId" -> LongType,
      "postalCode" -> StringType, "phone" -> StringType, "employeeNumber" -> StringType,
      "location" -> StringType, "jobTitle" -> StringType, "referenceNumber" -> StringType,
      "dateHired" -> StringType, "dateTerminated" -> StringType, "dateEdited" -> StringType,
      "dateAdded" -> StringType, "lastLoginDate" -> StringType, "notes" -> StringType,
      "roleIds" -> ArrayType(LongType), "activeStatus" -> LongType, "isLearner" -> BooleanType,
      "isAdmin" -> BooleanType, "isInstructor" -> BooleanType, "isManager" -> BooleanType,
      "supervisorId" -> LongType, "hasUsername" -> BooleanType,
      "customFields" -> StructType(Seq("cohort", "badge", "mentor").map(StructField(_, StringType)))
    ).map { case (n, t) => StructField(n, t) })
    StructType(Seq(StructField("totalItems", LongType), StructField("limit", LongType),
      StructField("offset", LongType), StructField("returnedItems", LongType),
      StructField("users", ArrayType(user))))
  }

  /** Declared stand-in for a product gap: `Tables.writeCsv` rejects the
    * reference's array fields, so they cross the CSV boundary as JSON
    * text (see perfbench/NOTES.md, follow-up (a)). */
  def jsonStandIn(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("cc_email_addresses", to_json(col("cc_email_addresses")))
      .withColumn("role_ids", to_json(col("role_ids")))

  private val derbyType: DataType => String = {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case _ => "VARCHAR(1000)"
  }

  val derbyColumns: String =
    Target.fields.map(f => s"${f.name} ${derbyType(f.dataType)}").mkString(", ")

  private val nonKey = Target.fieldNames.toSeq.filterNot(_ == "lms_user_id")

  /** Keyed last-writer-wins upsert in Derby's dialect: one parameterised
    * MERGE per row, run in JDBC batches by `JdbcUpsert.writeWith`. */
  def mergeSql(table: String): String =
    s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON t.lms_user_id = ? " +
      s"WHEN MATCHED AND t.date_edited <= ? THEN UPDATE SET " +
      nonKey.map(c => s"$c = ?").mkString(", ") +
      s" WHEN NOT MATCHED THEN INSERT (${Target.fieldNames.mkString(", ")}) VALUES (" +
      Target.fieldNames.map(_ => "?").mkString(", ") + ")"

  /** The frame whose columns bind, in order, to [[mergeSql]]'s parameters. */
  def mergeParams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val order = Seq("lms_user_id", "date_edited") ++ nonKey ++ Target.fieldNames
    df.select(order.zipWithIndex.map { case (c, i) => col(c).as(s"p$i") }: _*)
  }

  private def toSpark(v: Any): Any = v match {
    case Micros(m) =>
      val t = new java.sql.Timestamp(Math.floorDiv(m, 1000L)); t.setNanos((Math.floorMod(m, 1000000L) * 1000).toInt); t
    case other => other
  }
}
