package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** CROSS-TABLE ATOMIC COMMITS — the catalog role the reference stack
  * delegates to Nessie (config/nessie.properties:1-4; the
  * `nessie.curated.*` namespace in lakehouse-DDL/DDL.sql:2): one
  * catalog commit pins `(table -> snapshot version)` across MANY
  * graft snapshot tables in a single atomic publish, so a multi-table
  * star load (fact + dims) exposes either ALL of a load's versions or
  * none of them, and a TAG time-travels every member table
  * CONSISTENTLY — the property per-table versioning (and the per-table
  * Iceberg refs of r14) cannot give.
  *
  * Layout under the catalog dir — metadata only, no data IO ever:
  * {{{
  *   commits/c000000000001.json   one JSON per catalog commit
  *   tags/<name>.json             immutable pointer {"commit": N}
  * }}}
  * A commit file is the atomic unit, published create-if-absent by
  * `LakeWriter.publish` like a manifest or a Delta commit: a
  * concurrent reader only ever lists whole commits and a CRASH
  * mid-commit leaves an invisible dot-tmp, never a partial pin set.
  * Two writers racing to the same commit number: the loser's rename
  * fails onto the existing destination and refuses loudly
  * (optimistic concurrency).
  *
  * At 100 TB this is O(tables) metadata per commit; the pinned
  * versions are ordinary graft snapshots, so reads scale exactly as
  * `readSnapshot` does and vacuum stays per-table (a pinned version
  * that vacuum has reclaimed refuses loudly on read — the documented
  * retention trade, same as Delta time travel past its window).
  */
object Catalog {

  private def commitsDir(catalog: String) =
    new org.apache.hadoop.fs.Path(catalog, "commits")
  private def tagsDir(catalog: String) =
    new org.apache.hadoop.fs.Path(catalog, "tags")
  private def commitName(c: Long): String = f"c$c%012d.json"
  private val CommitRe = """^c(\d{12})\.json$""".r

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _ => None
  }
  private def lng(j: JValue): Option[Long] = j match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case _ => None
  }

  /** Catalog commit ids present, ascending. */
  def commits(spark: SparkSession, catalog: String): Seq[Long] = {
    val dir = commitsDir(catalog)
    val fs = LakeWriter.fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(st =>
      st.getPath.getName match {
        case CommitRe(n) => Some(n.toLong)
        case _ => None // dot-tmp of a crashed publish: invisible
      }).sorted
  }

  /** Raw read+parse of one catalog JSON file. */
  private def readJsonAt(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): JValue = {
    val in = fs.open(p)
    val body = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    in.close()
    JsonMethods.parse(body)
  }

  /** The `tables` pin map of a commit/branch JSON — one parser for
    * both (divergent copies invited silent drift). */
  private def parsePins(j: JValue,
                        what: String): Map[String, (String, Long)] =
    j \ "tables" match {
      case JObject(fields) => fields.map { case (name, t) =>
        name -> ((str(t \ "path").getOrElse(sys.error(
          s"$what: entry $name has no path")),
          lng(t \ "version").getOrElse(sys.error(
            s"$what: entry $name has no version"))))
      }.toMap
      case _ => sys.error(s"$what is malformed")
    }

  /** Shared commit validation: no silent re-pointing of carried
    * names, every pin resolved against the table's REAL snapshot
    * history before anything publishes (all-or-nothing). */
  private def validatePins(spark: SparkSession, catalog: String,
      tables: Map[String, String], at: Map[String, Long],
      old: Map[String, (String, Long)], where: String)
      : Seq[(String, String, Long)] = {
    require(tables.nonEmpty, s"catalog at $catalog: empty commit")
    at.keys.foreach(n => require(tables.contains(n),
      s"catalog at $catalog: version pin for unknown table '$n'"))
    tables.foreach { case (n, path) =>
      old.get(n).foreach { case (oldPath, _) =>
        require(oldPath == path,
          s"catalog at $catalog: table '$n' would re-point from " +
            s"$oldPath to $path$where — historic AS OF reads would " +
            "lie; register the new location under a new name")
      }
    }
    tables.toSeq.sortBy(_._1).map { case (n, path) =>
      val vs = LakeWriter.snapshotVersions(spark, path)
      require(vs.nonEmpty,
        s"catalog at $catalog: table '$n' at $path has no snapshots")
      val v = at.getOrElse(n, vs.last)
      require(vs.contains(v),
        s"catalog at $catalog: table '$n' has no version $v " +
          s"(have ${vs.mkString(", ")}) — refusing the whole commit")
      (n, path, v)
    }
  }

  private def readCommitJson(spark: SparkSession, catalog: String,
                             c: Long): JValue = {
    val p = new org.apache.hadoop.fs.Path(commitsDir(catalog),
      commitName(c))
    val fs = LakeWriter.fsOf(spark, p)
    require(fs.exists(p),
      s"catalog at $catalog has no commit $c (have " +
        s"${commits(spark, catalog).mkString(", ")})")
    readJsonAt(fs, p)
  }

  /** The `(table name -> (path, pinned version))` map of a commit. */
  def pinsAt(spark: SparkSession, catalog: String,
             c: Long): Map[String, (String, Long)] =
    parsePins(readCommitJson(spark, catalog, c),
      s"catalog at $catalog: commit $c")

  /** Tag names present (each an immutable pointer at one commit). */
  def tags(spark: SparkSession, catalog: String): Seq[String] = {
    val dir = tagsDir(catalog)
    val fs = LakeWriter.fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).sorted
  }

  /** Branch names with at least one published commit. */
  def branches(spark: SparkSession, catalog: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(catalog, "branches")
    val fs = LakeWriter.fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("."))
      .filter(n => branchCommits(spark, catalog, n).nonEmpty).sorted
  }

  /** Every snapshot version of `tablePath` pinned ANYWHERE in this
    * catalog — main commits, tags (they point at commits, so commits
    * cover them) and branch commits. These are the catalog's
    * RETENTION ROOTS: `LakeWriter.vacuumSnapshots(catalogs = ...)`
    * never reclaims a version a commit/tag/branch still serves (the
    * Nessie-GC role — refs are GC roots, not just names). Refuses
    * loudly on a missing/unreadable catalog: silently treating it as
    * "no pins" would reclaim every pinned version. */
  def pinnedVersionsOf(spark: SparkSession, catalog: String,
                       tablePath: String): Set[Long] = {
    val dir = new org.apache.hadoop.fs.Path(catalog)
    val fs = LakeWriter.fsOf(spark, dir)
    require(fs.exists(dir),
      s"catalog at $catalog does not exist or is unreadable — " +
        "refusing to treat it as pin-free (its pins are retention " +
        "roots; vacuuming against a misspelled or unmounted catalog " +
        "would reclaim every version it protects)")
    val want = fs.makeQualified(
      new org.apache.hadoop.fs.Path(tablePath)).toString
    def versionsIn(pins: Map[String, (String, Long)]): Seq[Long] =
      pins.values.collect { case (p, v) if fs.makeQualified(
        new org.apache.hadoop.fs.Path(p)).toString == want => v }.toSeq
    val fromMain = commits(spark, catalog)
      .flatMap(c => versionsIn(pinsAt(spark, catalog, c)))
    val fromBranches = branches(spark, catalog).flatMap { b =>
      branchCommits(spark, catalog, b).flatMap(n => versionsIn(
        branchPins(readBranchCommit(spark, catalog, b, n), catalog, b)))
    }
    (fromMain ++ fromBranches).toSet
  }

  /** Atomically commit a consistent cross-table state: pin each named
    * table at `at(name)` (default: its CURRENT latest version). Every
    * pin is validated against the table's real snapshot history
    * BEFORE anything publishes — a dangling pin refuses and leaves
    * the catalog untouched (all-or-nothing, the "refuse partial
    * commits" contract). A name carried over from the parent commit
    * must keep its path (a silent re-point would make historic AS OF
    * reads lie); tables may be added commit over commit, and a name
    * absent from `tables` simply drops out of the new commit (its
    * history stays readable at older commits). Returns the commit id. */
  def commit(spark: SparkSession, catalog: String,
             tables: Map[String, String],
             at: Map[String, Long] = Map.empty,
             expectedParent: Option[Long] = None): Long = {
    val prev = commits(spark, catalog)
    val parent = prev.lastOption
    // a CAS for callers whose decision depended on the tip they read
    // (mergeBranch's fast-forward check): the publish refuses if the
    // tip moved between their read and this commit — otherwise the
    // interloper's pins would be silently clobbered
    expectedParent.foreach(ep => require(parent.contains(ep),
      s"catalog at $catalog: expected to commit on top of $ep but " +
        s"the tip is ${parent.getOrElse(-1L)} — a concurrent commit " +
        "landed; re-validate against the new tip"))
    val old = parent.map(pinsAt(spark, catalog, _))
      .getOrElse(Map.empty[String, (String, Long)])
    val pinned = validatePins(spark, catalog, tables, at, old, "")
    val c = parent.getOrElse(-1L) + 1
    val body = JsonMethods.compact(JsonMethods.render(JObject(List(
      "commit" -> JInt(BigInt(c)),
      "parent" -> parent.map(p => JInt(BigInt(p)): JValue)
        .getOrElse(JNull),
      "timestamp" -> JInt(BigInt(System.currentTimeMillis())),
      "tables" -> JObject(pinned.map { case (n, path, v) =>
        n -> (JObject(List(
          "path" -> JString(path),
          "version" -> JInt(BigInt(v)))): JValue)
      }.toList)))))
    val dest = new org.apache.hadoop.fs.Path(commitsDir(catalog),
      commitName(c))
    if (!LakeWriter.publish(LakeWriter.fsOf(spark, dest), dest,
        body.getBytes("UTF-8"), replace = false))
      sys.error(s"catalog at $catalog: commit $c lost a publish race " +
        "(concurrent committer) — retry against the new tip")
    c
  }

  /** Tag a catalog commit (default: the tip). Tags are IMMUTABLE —
    * re-tagging an existing name refuses (a moved release tag would
    * silently change what consumers already resolved). */
  def tag(spark: SparkSession, catalog: String, name: String,
          commit: Option[Long] = None): Long = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith("."),
      s"catalog at $catalog: bad tag name '$name'")
    val c = commit.getOrElse(commits(spark, catalog).lastOption.getOrElse(
      sys.error(s"catalog at $catalog has no commits to tag")))
    readCommitJson(spark, catalog, c): Unit // must exist
    val dir = tagsDir(catalog)
    val fs = LakeWriter.fsOf(spark, dir)
    val dest = new org.apache.hadoop.fs.Path(dir, s"$name.json")
    require(!fs.exists(dest),
      s"catalog at $catalog: tag '$name' already exists (tags are " +
        "immutable — pick a new name)")
    if (!LakeWriter.publish(fs, dest,
        JsonMethods.compact(JsonMethods.render(JObject(List(
          "commit" -> JInt(BigInt(c)))))).getBytes("UTF-8"),
        replace = false))
      sys.error(s"catalog at $catalog: tag '$name' lost a publish race")
    c
  }

  /** Resolve a tag to its catalog commit id; unknown tags list what
    * exists. */
  def tagCommit(spark: SparkSession, catalog: String,
                name: String): Long = {
    val dir = tagsDir(catalog)
    val fs = LakeWriter.fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, s"$name.json")
    if (!fs.exists(p)) {
      val have =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(n => n.endsWith(".json") && !n.startsWith("."))
          .map(_.stripSuffix(".json")).sorted
      sys.error(s"catalog at $catalog has no tag '$name' (tags: " +
        s"${have.mkString(", ")})")
    }
    val in = fs.open(p)
    val body = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    in.close()
    lng(JsonMethods.parse(body) \ "commit").getOrElse(
      sys.error(s"catalog at $catalog: tag '$name' is malformed"))
  }

  /** Read table `name` AS OF catalog commit `c` — the snapshot version
    * the commit pinned, through the ordinary snapshot reader. */
  def readTableAt(spark: SparkSession, catalog: String, name: String,
                  c: Long): DataFrame = {
    val pins = pinsAt(spark, catalog, c)
    val (path, v) = pins.getOrElse(name, sys.error(
      s"catalog at $catalog: commit $c pins no table '$name' " +
        s"(tables: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    LakeWriter.readSnapshot(spark, path, Some(v))
  }

  /** Read table `name` AS OF a tag — every member table of the tagged
    * commit resolves consistently through the same pin set. */
  def readTableAtTag(spark: SparkSession, catalog: String, name: String,
                     tagName: String): DataFrame =
    readTableAt(spark, catalog, name, tagCommit(spark, catalog, tagName))

  // ------------------------------------------------------------------
  // branches (the mutable-ref half of the Nessie role)
  // ------------------------------------------------------------------
  //
  // A branch is its own atomic commit sequence forked from a MAIN
  // commit: `branches/<name>/b<N>.json`, each file carrying the
  // branch's base main-commit and a FULL pin map (complete state per
  // commit, so resolution never replays diffs). The head is simply
  // the highest published number — no mutable pointer file exists, so
  // every publish is the same tmp+rename CAS as main commits and a
  // crashed writer leaves only an invisible tmp. Merging back is
  // FAST-FORWARD ONLY: if main advanced past the branch's base, the
  // merge refuses loudly (a silent three-way merge of table pins
  // could pair versions no one ever validated together).

  private def branchDir(catalog: String, name: String) = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith("."),
      s"catalog at $catalog: bad branch name '$name'")
    new org.apache.hadoop.fs.Path(catalog, s"branches/$name")
  }
  private def branchCommitName(n: Long): String = f"b$n%012d.json"
  private val BranchCommitRe = """^b(\d{12})\.json$""".r

  /** Branch-local commit numbers present, ascending (empty = no such
    * branch or a just-created branch with no commits yet). */
  def branchCommits(spark: SparkSession, catalog: String,
                    name: String): Seq[Long] = {
    val dir = branchDir(catalog, name)
    val fs = LakeWriter.fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(st =>
      st.getPath.getName match {
        case BranchCommitRe(n) => Some(n.toLong)
        case _ => None
      }).sorted
  }

  private def readBranchCommit(spark: SparkSession, catalog: String,
                               name: String, n: Long): JValue = {
    val p = new org.apache.hadoop.fs.Path(branchDir(catalog, name),
      branchCommitName(n))
    val fs = LakeWriter.fsOf(spark, p)
    require(fs.exists(p),
      s"catalog at $catalog: branch '$name' has no commit $n")
    readJsonAt(fs, p)
  }

  /** Create branch `name` forked from main commit `from` (default:
    * the main tip). The branch starts as b0 carrying the fork point's
    * full pin map, so it is immediately readable and its base is
    * recorded for the fast-forward check. Existing branches refuse. */
  def branch(spark: SparkSession, catalog: String, name: String,
             from: Option[Long] = None): Long = {
    val base = from.getOrElse(commits(spark, catalog).lastOption
      .getOrElse(sys.error(
        s"catalog at $catalog has no commits to branch from")))
    val pins = pinsAt(spark, catalog, base) // must exist; reuse its map
    // existence = a PUBLISHED b0, not a directory: a crash between
    // the directory's creation and the b0 rename must not brick the
    // name forever (the retry simply re-publishes b0; the rename
    // still arbitrates races)
    require(branchCommits(spark, catalog, name).isEmpty,
      s"catalog at $catalog: branch '$name' already exists")
    publishBranchCommit(spark, catalog, name, 0L, base, pins)
    0L
  }

  /** Commit a consistent cross-table state ONTO a branch — same
    * all-or-nothing validation and carried-name path pinning as main
    * commits, published as the branch's next numbered file. */
  def commitOnBranch(spark: SparkSession, catalog: String, name: String,
                     tables: Map[String, String],
                     at: Map[String, Long] = Map.empty): Long = {
    val prev = branchCommits(spark, catalog, name)
    require(prev.nonEmpty,
      s"catalog at $catalog has no branch '$name' — create it with " +
        "branch() first")
    val head = prev.last
    val hj = readBranchCommit(spark, catalog, name, head)
    val base = lng(hj \ "base").getOrElse(sys.error(
      s"catalog at $catalog: branch '$name' head is malformed"))
    val old = branchPins(hj, catalog, name)
    val pinned = validatePins(spark, catalog, tables, at, old,
      s" on branch '$name'").map { case (n, path, v) =>
        n -> ((path, v)) }.toMap
    publishBranchCommit(spark, catalog, name, head + 1, base, pinned)
    head + 1
  }

  private def branchPins(j: JValue, catalog: String,
                         name: String): Map[String, (String, Long)] =
    parsePins(j, s"catalog at $catalog: branch '$name' commit")

  private def publishBranchCommit(spark: SparkSession, catalog: String,
      name: String, n: Long, base: Long,
      pins: Map[String, (String, Long)]): Unit = {
    val dest = new org.apache.hadoop.fs.Path(branchDir(catalog, name),
      branchCommitName(n))
    val body = JsonMethods.compact(JsonMethods.render(JObject(List(
      "branch" -> JString(name),
      "seq" -> JInt(BigInt(n)),
      "base" -> JInt(BigInt(base)),
      "timestamp" -> JInt(BigInt(System.currentTimeMillis())),
      "tables" -> JObject(pins.toSeq.sortBy(_._1).map {
        case (tn, (path, v)) =>
          tn -> (JObject(List(
            "path" -> JString(path),
            "version" -> JInt(BigInt(v)))): JValue)
      }.toList)))))
    if (!LakeWriter.publish(LakeWriter.fsOf(spark, dest), dest,
        body.getBytes("UTF-8"), replace = false))
      sys.error(s"catalog at $catalog: branch '$name' commit $n lost " +
        "a publish race (concurrent committer) — retry against the " +
        "new head")
  }

  /** The branch head's `(table -> (path, version))` pin map. */
  def branchHeadPins(spark: SparkSession, catalog: String,
                     name: String): Map[String, (String, Long)] = {
    val cs = branchCommits(spark, catalog, name)
    require(cs.nonEmpty, s"catalog at $catalog has no branch '$name'")
    branchPins(readBranchCommit(spark, catalog, name, cs.last),
      catalog, name)
  }

  /** Read table `name` AS OF branch `branchName`'s head — every
    * member resolves through the same branch pin set; main is
    * untouched by anything committed on the branch. */
  def readTableAtBranch(spark: SparkSession, catalog: String,
                        branchName: String, name: String): DataFrame = {
    val pins = branchHeadPins(spark, catalog, branchName)
    val (path, v) = pins.getOrElse(name, sys.error(
      s"catalog at $catalog: branch '$branchName' pins no table " +
        s"'$name' (tables: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    LakeWriter.readSnapshot(spark, path, Some(v))
  }

  /** Merge a branch into main. Default is FAST-FORWARD only: publish
    * the branch head's full pin map as the next main commit, refusing
    * loudly when main advanced past the branch's base.
    *
    * `threeWay = true` additionally resolves a DIVERGED merge when
    * the changes are per-table DISJOINT — for each table, compare the
    * branch head and the main tip against the branch's BASE pins:
    * only-one-side-changed takes the changed side, neither-changed
    * keeps the base, tables added on exactly one side join the merged
    * commit. A table BOTH sides changed (or dropped on one side and
    * changed on the other) CONFLICTS and the whole merge refuses,
    * naming the tables — a silent pick would pair versions nobody
    * validated together, the exact failure the catalog exists to
    * prevent. Returns the new main commit id. */
  def mergeBranch(spark: SparkSession, catalog: String, name: String,
                  threeWay: Boolean = false): Long = {
    val cs = branchCommits(spark, catalog, name)
    require(cs.nonEmpty, s"catalog at $catalog has no branch '$name'")
    val hj = readBranchCommit(spark, catalog, name, cs.last)
    val base = lng(hj \ "base").getOrElse(sys.error(
      s"catalog at $catalog: branch '$name' head is malformed"))
    val mainTip = commits(spark, catalog).lastOption.getOrElse(
      sys.error(s"catalog at $catalog has no main commits"))
    val branchHead = branchPins(hj, catalog, name)
    val merged: Map[String, (String, Long)] =
      if (mainTip == base) branchHead
      else if (!threeWay) sys.error(
        s"catalog at $catalog: main advanced to $mainTip past branch " +
          s"'$name''s base $base — a fast-forward is impossible; " +
          "merge with threeWay = true (disjoint per-table changes " +
          "resolve; conflicts refuse), or branch afresh and " +
          "re-validate")
      else {
        val basePins = pinsAt(spark, catalog, base)
        val mainPins = pinsAt(spark, catalog, mainTip)
        val names =
          (basePins.keySet ++ mainPins.keySet ++ branchHead.keySet)
        val conflicts = scala.collection.mutable.ListBuffer[String]()
        val out = scala.collection.mutable.LinkedHashMap[
          String, (String, Long)]()
        names.toSeq.sorted.foreach { n =>
          val b0 = basePins.get(n)
          val m = mainPins.get(n)
          val br = branchHead.get(n)
          val mainChanged = m != b0
          val branchChanged = br != b0
          (mainChanged, branchChanged) match {
            case (false, false) => b0.foreach(out(n) = _)
            case (true, false) => m.foreach(out(n) = _)
            case (false, true) => br.foreach(out(n) = _)
            case (true, true) =>
              // both touched it — identical results are NOT a
              // conflict (both sides validated the same pin)
              if (m == br) m.foreach(out(n) = _)
              else conflicts += n
          }
        }
        require(conflicts.isEmpty,
          s"catalog at $catalog: three-way merge of branch '$name' " +
            s"conflicts on table(s) ${conflicts.mkString(", ")} — " +
            "both main and the branch changed them since base " +
            s"$base; a silent pick would pair versions nobody " +
            "validated together. Resolve on the branch, then merge")
        out.toMap
      }
    // the publish is a CAS against the tip this merge validated: a
    // concurrent main commit between the divergence check and the
    // publish must refuse, not be silently clobbered
    commit(spark, catalog, merged.map { case (n, (p, _)) => n -> p },
      at = merged.map { case (n, (_, v)) => n -> v },
      expectedParent = Some(mainTip))
  }
}
