"""User-facing facade: the reference's end-to-end workflow as one object.

A user of the reference interacts with exactly four things (README.md:
60-139): drop objects into a source bucket (S3 event -> automatic
ingestion), query `dicom_db.dicom_metadata` in Athena, re-run MSCK /
the crawler after new partitions land, and inspect the SQS DLQ for
failures. ``DicomLake`` is that surface on Spark:

    lake = DicomLake(spark, "/data/lake", quarantine_path="/data/quar")
    lake.ingest("/incoming/batch1")          # batch replay of events
    q = lake.watch("/incoming", "/ckpt")     # or: continuous, exactly-once
    lake.sql("SELECT modality, COUNT(*) FROM dicom_metadata "
             "WHERE study_date = DATE'2021-11-03' GROUP BY modality")
    lake.refresh()                           # the MSCK/crawler step
    lake.quarantine()                        # the DLQ
    lake.compact()                           # small-files maintenance
    lake.purge(predicate)                    # right-to-erasure DELETE

Mapping to the reference: ingest == src/app.py:97-189 (Lambda handler)
replayed over every object; watch == the S3-event wiring
(deploy/serverless.yml:195-200); sql == Athena over the Glue table
(deploy/serverless.yml:509-536); refresh == MSCK REPAIR TABLE
(README.md:105); quarantine == the SQS DLQ (deploy/serverless.yml:
123-147). compact has no reference analogue — it undoes the
small-files layout the reference's one-object-per-Lambda writes
produce.

Where each writes: ingest appends through Spark's own job commit
(ingest/pipeline.py); watch, compact, purge and purge_quarantine make
their files visible through the one stage-and-commit of
sources/commit.py, one commit at a time per root, whose ``_staging/``
and ``_commits/`` dirs under the lake and quarantine roots no reader
lists.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import INGEST_SCHEMA, PARTITION_COL


class DicomLake:
    """A partitioned DICOM-metadata Parquet lake plus its quarantine
    channel, registered as a queryable table."""

    def __init__(
        self,
        spark: SparkSession,
        lake_path: str,
        quarantine_path: str | None = None,
        table: str = "dicom_metadata",
        external: bool = False,
    ) -> None:
        self.spark = spark
        self.lake_path = lake_path
        self.quarantine_path = quarantine_path
        self.table = table
        self.external = external

    # -- ingestion ---------------------------------------------------------

    def ingest(self, input_path: str) -> DataFrame:
        """Batch-ingest every object under input_path (the replay of all
        S3 ObjectCreated events), then register what it wrote: the view,
        or the partitions it wrote on the external table (created over
        the lake when missing or pointing elsewhere). Returns the
        queryable lake DataFrame."""
        from .ingest import run_ingest

        return run_ingest(
            self.spark,
            input_path,
            self.lake_path,
            self.quarantine_path,
            table=self.table,
            external=self.external,
        )

    def watch(self, input_path: str, checkpoint_path: str, available_now: bool = False):
        """Continuous ingestion of newly arriving objects (the S3-event
        pattern as a Structured Streaming query), through the same ranged
        read and lake/quarantine writer as :meth:`ingest`. Each
        micro-batch is staged and committed to the quarantine and to the
        lake under its batch token (sources/commit.py), so a batch
        replayed on restart from ``checkpoint_path`` lands once. Several
        watches (own checkpoints) may feed one lake, and a watch may run
        while :meth:`compact` or :meth:`purge` does (its commit waits for
        theirs); do not run :meth:`ingest` alongside those two. Returns
        the handle."""
        from .streaming import start_ingest_stream

        return start_ingest_stream(
            self.spark,
            input_path,
            self.lake_path,
            self.quarantine_path,
            checkpoint_path=checkpoint_path,
            available_now=available_now,
        )

    # -- query surface -----------------------------------------------------

    def df(self) -> DataFrame:
        """The lake as a DataFrame (fresh read)."""
        from .schema import DICOM_METADATA_SCHEMA

        if self.external:
            return self.spark.table(self.table)
        return self.spark.read.schema(DICOM_METADATA_SCHEMA).parquet(self.lake_path)

    def sql(self, query: str) -> DataFrame:
        """ANSI SQL over the registered table — the Athena surface."""
        return self.spark.sql(query)

    def deidentified(self, salt: str, **kwargs) -> DataFrame:
        """The lake de-identified for sharing (dicom/deid.py): salted
        pseudonyms for every identifier, per-patient interval-preserving
        date shifts, Safe-Harbor generalization, default-deny
        extra_tags. Same schema as :meth:`df`; write the result to the
        research/export location."""
        from .dicom.deid import deidentify

        return deidentify(self.df(), salt, **kwargs)

    def refresh(self) -> None:
        """Pick up partitions written by other writers (another session,
        :meth:`watch`, a copy) — the MSCK REPAIR / crawler step.
        :meth:`ingest` registers the partitions it writes itself."""
        if self.external:
            from .sources.catalog import repair_table

            repair_table(self.spark, self.table)
        else:
            self.df().createOrReplaceTempView(self.table)

    # -- operations --------------------------------------------------------

    def quarantine(self) -> DataFrame | None:
        """Failed-object records (the DLQ): lineage columns + ``error``."""
        if not self.quarantine_path:
            return None
        try:
            return self.spark.read.schema(INGEST_SCHEMA).parquet(self.quarantine_path)
        except AnalysisException:
            return None  # nothing quarantined yet: the path does not exist

    def compact(self, target_file_bytes: int = 128 << 20, min_files: int = 8) -> dict[str, int]:
        """Rewrite every partition holding at least ``min_files`` files
        into at most ceil(bytes / ``target_file_bytes``) files, in one
        Spark job, swapped in by the one lake commit (operators/
        compact.py) under the lake's commit lock, so a running
        :meth:`watch` waits for it; batch :meth:`ingest` does not, so do
        not run the two at once. Returns partition -> new file count."""
        from .operators import compact_lake

        return compact_lake(
            self.spark, self.lake_path, target_file_bytes, min_files
        )

    def purge(self, predicate) -> dict[str, int]:
        """Right-to-erasure DELETE (operators/purge.py): rewrite only
        the partitions containing rows that match ``predicate`` (a
        deterministic Column), dropping those rows; partitions whose
        rows all matched are removed. The rewrite is staged and swapped
        in by the one lake commit (sources/commit.py) under the lake's
        commit lock, so a crash mid-swap rolls forward on the next
        commit and a running :meth:`watch` waits for it; batch
        :meth:`ingest` does not, so do not run the two at once. The
        compliance complement to :meth:`deidentified` — erase the
        subject from the lake itself. Refresh any registered catalog table afterwards."""
        from .operators.purge import purge_rows
        from .schema import DICOM_METADATA_SCHEMA

        return purge_rows(
            self.spark, self.lake_path, predicate, schema=DICOM_METADATA_SCHEMA
        )

    def purge_quarantine(self, predicate) -> dict[str, int]:
        """Erasure for the quarantine channel (operators/purge.py):
        failed-object records carry source keys and parse-error text
        that can embed subject identifiers, so a complete erasure
        request must reach the DLQ too. Full rewrite, swapped in by the
        one lake commit — the quarantine holds failures only, so it
        stays small."""
        from .operators.purge import purge_unpartitioned
        from .schema import INGEST_SCHEMA

        if not self.quarantine_path:
            raise ValueError("this lake has no quarantine channel")
        return purge_unpartitioned(
            self.spark, self.quarantine_path, predicate, schema=INGEST_SCHEMA
        )

    def analyze(self, columns: list[str] | None = None) -> dict[str, str]:
        """Collect catalog statistics on the lake table for CBO/AQE
        (sources/catalog.py::analyze_table). Requires an external
        (catalog-registered) lake."""
        from .sources.catalog import analyze_table

        if not self.external:
            raise ValueError("analyze() needs a catalog-registered lake (external=True)")
        return analyze_table(self.spark, self.table, columns)

    def profile(self) -> DataFrame:
        """One-pass data-quality profile of the lake: a row per column
        with row count, null count, approximate distinct count, and
        min/max rendered as strings (the lake schema mixes dates,
        strings, arrays, structs and a map — rendering keeps the
        result one uniform frame). The operational readout before
        sharing or debugging a partition: which columns actually carry
        data, where the nulls concentrate, whether a UID column
        collapsed. Single aggregate pass — every statistic is a
        partial-aggregable expression, so one scan at any scale."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        df = self.df()
        aggs, names = [], []
        for f in df.schema.fields:
            c = F.col(f.name)
            # orderable rendering for nested types
            flat = (
                F.to_json(c)
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
                else c.cast("string")
            )
            names.append(f.name)
            aggs += [
                F.count(c).alias(f"nn_{f.name}"),
                F.approx_count_distinct(flat).alias(f"nd_{f.name}"),
                F.min(flat).alias(f"mn_{f.name}"),
                F.max(flat).alias(f"mx_{f.name}"),
            ]
        row = df.agg(F.count("*").alias("n_rows"), *aggs).first()
        out = [
            (
                n,
                row["n_rows"],
                row["n_rows"] - row[f"nn_{n}"],
                row[f"nd_{n}"],
                row[f"mn_{n}"],
                row[f"mx_{n}"],
            )
            for n in names
        ]
        return self.spark.createDataFrame(
            out,
            "column STRING, n_rows BIGINT, n_nulls BIGINT, "
            "approx_distinct BIGINT, min STRING, max STRING",
        )

    def partitions(self) -> list[str]:
        """Partition values present in the lake."""
        return sorted(
            r[PARTITION_COL].isoformat()
            for r in self.df().select(PARTITION_COL).distinct().collect()
        )

    def reconcile(self, other: "DicomLake | DataFrame") -> DataFrame:
        """Row-by-row reconciliation against another lake (or lake
        DataFrame): one summary row per verdict in {added, removed,
        changed, unchanged}, keyed by ``sop_instance_uid`` (the DICOM
        object identity) and compared by content fingerprint.

        This is the convergence proof the reference's recovery story
        needs but cannot express: its ingest is at-least-once (re-run
        the Lambda + MSCK, README.md:139), so after any replay the
        operator question is "does the rebuilt lake equal the old
        one?" — answered here with a fingerprint diff (operators/
        diff.py) whose shuffle carries 8 bytes per row regardless of
        the metadata width. `self` is OLD, ``other`` is NEW: rows only
        in ``other`` count as added. Duplicate-UID rows (the
        at-least-once signature) are collapsed to one fingerprint per
        UID before the diff, so a replayed-twice lake still reconciles
        as unchanged."""
        from .operators.diff import table_diff

        new = other.df() if isinstance(other, DicomLake) else other
        key = "sop_instance_uid"

        def canon(df: DataFrame) -> DataFrame:
            # maps hash nondeterministically (Spark forbids it) —
            # canonicalize to key-sorted entry arrays first
            hashable = [
                F.sort_array(F.map_entries(f.name))
                if f.dataType.typeName() == "map"
                else F.col(f.name)
                for f in df.schema.fields
                if f.name != key
            ]
            # one fingerprint per UID: dedupe exact-replay copies, and
            # make multi-version UIDs order-insensitive via min(hash)
            return (
                df.select(key, F.xxhash64(*hashable).alias("fp"))
                .groupBy(key)
                .agg(F.min("fp").alias("fp"))
            )

        d = table_diff(canon(self.df()), canon(new), keys=[key])
        return (
            d.groupBy("change_type")
            .agg(F.count("*").alias("n"))
            .orderBy("change_type")
        )

    def series_completeness(self) -> DataFrame:
        """Series-completeness audit (q222's rule over the lake): for
        every (study_id, series_number), is the set of ingested
        InstanceNumbers exactly 1..n? The reference's ingest drops a
        failed object into the DLQ while the rest of its series lands
        (/root/reference/README.md:116), so a partially-ingested series
        is invisible until something walks the sequence. InstanceNumber
        is not a pinned lake column (the reference's Glue DDL omits it,
        deploy/serverless.yml:537-567) — it rides in ``extra_tags``;
        instances without the tag are reported as their own
        ``untracked`` verdict rather than silently skipped. Returns one
        row per series: (study_id, series_number, n_instances,
        missing_in_span, dup_rows, verdict).

        Scale shape: ONE keyed aggregate on the series key (count /
        distinct / min / max partials) over a map-side projection."""
        num = F.col("extra_tags").getItem("InstanceNumber").cast("int")
        g = (
            self.df()
            .select("study_id", "series_number", num.alias("inum"))
            .groupBy("study_id", "series_number")
            .agg(
                F.count("*").alias("n_instances"),
                F.count("inum").alias("tagged"),
                F.count_distinct("inum").alias("d"),
                F.min("inum").alias("mn"),
                F.max("inum").alias("mx"),
            )
        )
        return g.select(
            "study_id",
            "series_number",
            "n_instances",
            F.coalesce(
                F.col("mx") - F.col("mn") + 1 - F.col("d"), F.lit(0)
            ).alias("missing_in_span"),
            (F.col("tagged") - F.col("d")).alias("dup_rows"),
            F.when(F.col("tagged") < F.col("n_instances"), "untracked")
            .when(F.col("d") < F.col("tagged"), "duplicated")
            .when(F.col("mn") > 1, "offset_start")
            .when(F.col("mx") > F.col("tagged"), "gapped")
            .otherwise("complete")
            .alias("verdict"),
        ).orderBy("study_id", "series_number")

    def reid_risk(self, quasi_cols: list[str] | None = None, k: int = 5) -> DataFrame:
        """Re-identification risk audit of the lake (q214's shape):
        equivalence-class size histogram over the quasi-identifier
        columns that survive de-identification. Every record in a
        class smaller than ``k`` is linkable by those attributes —
        run this against :meth:`deidentified` output before sharing.
        Defaults to the DICOM quasi-identifiers (modality, study_date);
        pass the generalized columns you actually export. Returns
        (class_size, n_classes, n_records, at_risk, share_micros)."""
        cols = quasi_cols or ["modality", "study_date"]
        qi = self.df().groupBy(*cols).agg(F.count("*").alias("class_size"))
        tot = qi.agg(F.sum("class_size").alias("n"))
        return (
            qi.crossJoin(F.broadcast(tot))
            .groupBy("class_size", (F.col("class_size") < k).alias("at_risk"), "n")
            .agg(
                F.count("*").alias("n_classes"),
                F.sum("class_size").alias("n_records"),
            )
            .select(
                "class_size",
                "n_classes",
                "n_records",
                "at_risk",
                F.expr(
                    "CAST(floor(1000000.0 * (CAST(n_records AS DOUBLE)"
                    " / CAST(n AS DOUBLE))) AS BIGINT)"
                ).alias("share_micros"),
            )
            .orderBy("class_size")
        )
