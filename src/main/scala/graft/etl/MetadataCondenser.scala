package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's "set maker" (main/metadata_set_maker.py:13-110) over
  * every bioproject at once — SURVEY.md §2.8.
  *
  * The reference iterates per-column/per-factor over a wide pandas frame and
  * hand-builds membership bit-vectors keyed by arbitrary-precision ints.
  * Here the wide frame is melted to a fixed-schema long relation
  * `(bioproject, biosample_id, attribute, value)` once; one shuffle brings
  * each bioproject's cells together and one pass per bioproject applies the
  * rules — so one Spark job condenses ALL bioprojects, partitioned by the
  * `bioproject` grouping key (the reference needed GNU parallel + a resume
  * file, main/converter.sh:74). The per-bioproject pass keeps the plan
  * small: at interactive sizes its fixed cost (stages, generated code), not
  * the data, is what a job pays.
  *
  * Rules reproduced (cites into main/metadata_set_maker.py):
  *   r1 biosample filter (`startswith('SAM')`, :35) — caller-supplied prefix;
  *   r2 drop attributes with nunique <= 1 or == n_biosamples (:46-50);
  *   r3 skip NaN factor values — any [[PandasNaValues]] literal (:57);
  *   r4 skip singleton factors (count == 1, :62-63);
  *   r5 minority-side storage with `include` polarity (count < n/2, :64,74,94);
  *   r6 dedup identical membership vectors across (attribute, value) pairs,
  *      merging labels with '; ' (:89-94).
  */
object MetadataCondenser {

  /** pandas' default `na_values` (pandas `STR_NA_VALUES`,
    * pandas/_libs/parsers.pyx): cells the reference NEVER sees as values,
    * because `read_csv` converts every one of them to NaN before
    * metadata_set_maker.py runs — even under dtype=str — and `nunique()`
    * / the r3 skip exclude NaN (main/metadata_set_maker.py:46,57). The
    * single source of truth for "missing": the condenser rules, the
    * DuckDB pipeline oracles, and the independent test formulations all
    * derive from this constant so the four can never drift apart. */
  val PandasNaValues: Seq[String] = Seq(
    "-1.#IND", "1.#QNAN", "1.#IND", "-1.#QNAN", "#N/A N/A", "#N/A",
    "N/A", "n/a", "NA", "<NA>", "#NA", "NULL", "null", "NaN", "-NaN",
    "nan", "-nan", "None", "")

  private val naSet = PandasNaValues.toSet

  /** Readable: not NULL and not a pandas NA literal. */
  private def isPresent(v: String): Boolean = v != null && !naSet(v)

  /** [[PandasNaValues]] as a SQL IN-list (no member contains a quote). */
  val sqlNaList: String = PandasNaValues.map("'" + _ + "'").mkString(", ")

  /** Melt a wide per-bioproject metadata frame into the long relation.
    * Spark-native `unpivot`; every value is cast to string (the reference
    * reads CSVs as object dtype and str()-ifies, :34). */
  def melt(wide: DataFrame, bioprojectCol: String, biosampleCol: String)
      : DataFrame = {
    val attrs = wide.columns.filterNot(c => c == bioprojectCol || c == biosampleCol)
    wide.select((Seq(col(bioprojectCol).as("bioproject"),
        col(biosampleCol).cast("string").as("biosample_id")) ++
        attrs.map(c => col(c).cast("string").as(c))): _*)
      .unpivot(Array(col("bioproject"), col("biosample_id")),
        attrs.map(col), "attribute", "value")
  }

  /** Condense the long relation into deduplicated metadata sets.
    *
    * Output: (bioproject, attributes, values, members ARRAY<STRING> — the
    * STORED (minority) side, sorted —, n_stored, include, n_biosamples,
    * set_id).
    *
    * One shuffle: every bioproject's (biosample_id, attribute, value) cells
    * meet in one row, and [[bioprojectSets]] applies rules r2–r6 to them.
    * MEMORY BOUND: one bioproject's metadata cells per task — the grain the
    * reference condenses at (one metadata file per bioproject,
    * main/converter.sh:74). The test corpus's largest bioproject
    * (large_but_empty--PRJNA893630, 1.96 M cells) collects to 157 MB, 7 %
    * of Spark's ~2 GB array limit; the full corpus's largest is unverified.
    * Rows with a null bioproject are dropped.
    */
  def condense(long: DataFrame, idPrefix: Option[String] = None): DataFrame =
    long
      .filter(col("bioproject").isNotNull &&
        idPrefix.fold(lit(true))(col("biosample_id").startsWith(_)))
      .groupBy(col("bioproject"))
      .agg(collect_list(struct(col("biosample_id"), col("attribute"),
        col("value"))).as("cells"))
      .select(col("bioproject"), inline(setsUdf(col("cells"))))
      // canonical order in Spark's own (UTF-8 byte) order: members sorted,
      // label pairs sorted by (attribute, value) — the reference keeps
      // encounter order, which pandas does not guarantee across versions
      .withColumn("pairs", sort_array(col("pairs")))
      .withColumn("members", sort_array(col("members")))
      .select(
        col("bioproject"),
        array_join(transform(col("pairs"), p => p("attribute")), "; ")
          .as("attributes"),
        array_join(transform(col("pairs"), p => p("value")), "; ")
          .as("values"),
        col("members"), size(col("members")).as("n_stored"),
        col("include"), col("n_biosamples"), setId.as("set_id"))

  /** A set's id: a hash of its bioproject, stored side and polarity. The
    * one definition, shared by every producer of condensed sets. */
  def setId: Column =
    xxhash64(col("bioproject"), to_json(col("members")), col("include"))

  /** [[bioprojectSets]]' row type. Its nullability keeps the sets schema
    * callers have always seen: every field non-null except `include`,
    * which the relational rules derived from a division. */
  private val setsType = {
    def field(name: String, t: DataType, nullable: Boolean = false) =
      StructField(name, t, nullable)
    ArrayType(StructType(Seq(
      field("pairs", ArrayType(StructType(Seq(
        field("attribute", StringType), field("value", StringType))),
        containsNull = false)),
      field("members", ArrayType(StringType, containsNull = false)),
      field("include", BooleanType, nullable = true),
      field("n_biosamples", IntegerType))), containsNull = false)
  }

  private val setsUdf = udf(
    (cells => bioprojectSets(cells)): UDF1[Seq[Row], Seq[Row]], setsType)
    .asNonNullable()

  /** Rules r2–r6 over one bioproject's (biosample_id, attribute, value)
    * cells, emitting (pairs, members, include, n_biosamples) per set.
    * The universe is every non-null biosample id, null-attribute cells
    * included (they join no factor); null ids count towards an attribute's
    * distinct values but are never members. ';' becomes ':' in the emitted
    * labels only (the reference's delimiter guard, :68-71): grouping runs
    * on the original values, so two factors that differ only by ;/: keep
    * their own membership vectors and merely collide in label, as in the
    * reference. */
  private def bioprojectSets(cells: Seq[Row]): Seq[Row] = {
    val universe = cells.iterator.map(_.getString(0)).filter(_ != null).toSet
    val n = universe.size
    val factors = for {
      (attribute, rows) <- cells.filter(_.getString(1) != null)
        .groupBy(_.getString(1)).toSeq
      // r3: every cell pandas reads as missing is skipped, and nunique()
      // does not count it. The cross-engine golden oracle (TEST_LARGE
      // fixture: status = 'live' ×295 + 'nan' ×3) caught the variant that
      // counted 'nan' and emitted sets the reference never produces.
      byValue = rows.filter(r => isPresent(r.getString(2)))
        .groupBy(_.getString(2))
      // r2: constant or all-unique attributes carry no contrast
      if byValue.size > 1 && byValue.size < n
      (value, vRows) <- byValue
      members = vRows.iterator.map(_.getString(0)).filter(_ != null).toSet
      if members.size > 1 // r4: singleton factors
    } yield {
      // r5: store the minority side; include == the stored side IS the
      // true side of the contrast
      val include = members.size < n / 2.0
      ((include, if (include) members else universe -- members),
        Row(attribute.replace(';', ':'), value.replace(';', ':')))
    }
    // r6: identical membership vectors merge their labels
    factors.groupBy(_._1).map { case ((include, stored), pairs) =>
      Row(pairs.map(_._2), stored.toSeq, include, n)
    }.toSeq
  }
}
