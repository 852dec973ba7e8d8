"""Build director (SURVEY.md §3.1): the reference's ordered builder list
[metadata_cache, metadata, data, link, visualization, ml_cube]
(director.py:17-27) becomes a driver-side orchestration of DataFrame jobs,
each phase writing one partitioned Parquet table.

The inter-phase IR is table state (bronze → silver → gold), exactly like the
reference's HDF5-file state between builders — but immutable, columnar and
partition-pruned:

    bronze:  images/, spectra/          partitionBy(zoom), sorted by healpix
             image_headers/, spectrum_headers/, sfr tables
    silver:  cutout_refs/               the link join output
    gold:    ml_cube_spectra/, ml_cube_images/, visualization_cube/

Update semantics: each phase is independently re-runnable (mode=overwrite on
its own table) — the ``update --<phase>`` CLI surface of the reference
(hisscube.py:43-67).
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hiss_cube_spark import pins
from hiss_cube_spark.operators.link import build_cutout_refs
from hiss_cube_spark.operators.ml_cube import assign_targets, build_ml_cube
from hiss_cube_spark.operators.viz_cube import build_visualization_cube

__all__ = ["CubePipeline"]


class CubePipeline:
    """Orchestrates the phase DAG over a warehouse directory.

    Each phase reads the previous phase's tables and writes its own; phases
    are plain DataFrame jobs, so Catalyst/AQE owns the physical plan and the
    task scheduler owns load balancing (the reference's MPI master–worker
    queue, builders_parallel.py:35-89, has no user-visible counterpart).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        match_radius_deg: float = 0.133,  # 8 arcmin image radius (config.ini:79)
        zooms: int = 5,
        cutout_size: int = 64,
        max_refs: int = 200,
        tiled: bool = False,
        tile: int = 256,
        spatial_index: str = "healpix",
    ):
        """``tiled=True`` additionally materializes an ``image_tiles``
        table at ingest (one row per ``tile×tile`` block — the HDF5
        chunked layout of the reference, io_strategy.py:80-91) and the
        gold phases dereference cutouts against it: only the ≤4 covering
        tiles per cutout are read, never whole frames. At 100 TB that
        turns the dominant gold-phase I/O from a full-corpus frame scan
        into ~cutout_size²/frame_size of it (~0.4% for 64-px cutouts on
        SDSS frames), at the storage cost of the extra tile copy."""
        self.spark = spark
        self.warehouse = warehouse
        self.match_radius_deg = match_radius_deg
        self.zooms = zooms
        self.cutout_size = cutout_size
        self.max_refs = max_refs
        self.tiled = tiled
        self.tile = tile
        #: spatial-index family for the link cross-match: "healpix" (the
        #: reference's query_disc family — pole-correct, the default) or
        #: "grid" (equatorial/oracle-parity; functions/spatial.py:71-74)
        self.spatial_index = spatial_index
        #: per-table row counts, filled as phases run (the reference's
        #: image_count/spectrum_count file attrs, utils/io.py:183-199 —
        #: observed on the write pass itself, no extra count() job).
        self.stats: dict[str, int] = {}
        #: one DataFrame per warehouse table (`read`), and the zoom-0 frame
        #: bytes read from the ``images`` entry (`_frame_row_bytes`); both
        #: are forgotten when the pipeline rewrites the table
        self._tables: dict[str, DataFrame] = {}
        self._frame_bytes: dict[str, int | None] = {}

    # -- table IO ----------------------------------------------------------

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def read(self, table: str) -> DataFrame:
        """The table's DataFrame, made once per pipeline: every
        ``spark.read.parquet`` lists the table's files and fires a job
        that reads their footers for the schema, and a build reads the
        bronze tables in three phases. The entry is dropped whenever the
        pipeline writes that table (`_forget`), so a later read sees the
        new files, never a stale listing."""
        if table not in self._tables:
            self._tables[table] = self.spark.read.parquet(self.path(table))
        return self._tables[table]

    def _forget(self, table: str) -> None:
        self._tables.pop(table, None)
        self._frame_bytes.pop(table, None)

    def _write_observed(
        self, df: DataFrame, table: str, parts: list[str]
    ) -> None:
        """Write + record the row count observed on the same pass (A3/A7)."""
        self._forget(table)
        obs = Observation(table)
        w = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = w.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.path(table))
        self.stats[table] = int(obs.get["rows"])

    def write_bronze(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        """Bronze sink (S9): partition by zoom, cluster by healpix within
        files so spatial joins/scans prune well (the reference's sorted
        db_index, metadata_strategy_image.py:351-355).

        Range-partitioned on (zoom, healpix), NOT hash-partitioned on
        zoom: hash would funnel each zoom level into a single task (5
        distinct keys), which caps write parallelism at |zooms| and
        OOMs the writer once a zoom level outgrows one executor — the
        full-scale galaxy_small corpus (4.5 GB at zoom 0) already hits
        it, a 100 TB ingest catastrophically so. Ranges additionally
        give files DISJOINT healpix intervals per zoom, so min/max
        stats prune spatial scans file-by-file (hash gives every file
        the full healpix range).

        The range count is an initial width, not a fixed one: the write
        starts from at least 64 ranges (array-heavy bronze rows are MBs
        each, so tasks stay well under executor memory) and AQE merges
        adjacent ranges by the bytes it sees. A merged neighbour is still
        one contiguous range, so the disjoint intervals hold; at galaxy
        scale every range is above the advisory size and none merges,
        while the toy corpora stop writing one file per empty range. An
        explicit count would pin the width: AQE never coalesces it."""
        parts = partition_by if partition_by is not None else (
            ["zoom"] if "zoom" in df.columns else []
        )
        if "healpix" not in df.columns:
            self._write_observed(df, table, parts)
            return
        n = str(max(
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            self.spark.sparkContext.defaultParallelism,
            64,
        ))
        cols = [F.col(c) for c in parts] + [F.col("healpix")]
        w = df.repartitionByRange(*cols).sortWithinPartitions(*parts, "healpix")
        # initialPartitionNum sets the width AQE coalesces from; with AQE
        # off, shuffle.partitions sets it and nothing merges
        with self._session_conf({
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": n,
            "spark.sql.shuffle.partitions": n,
        }):
            self._write_observed(w, table, parts)

    #: per-task byte budget for one vectorized-parquet batch of frame rows
    #: (sized so 32 concurrent local tasks stay well inside the driver heap;
    #: on a cluster it bounds each executor core the same way)
    _VECTOR_BATCH_TARGET_BYTES = 128 << 20

    @contextlib.contextmanager
    def _session_conf(self, conf: dict[str, str]):
        """Set session confs around the actions inside the block, then put
        back what was there: the value set before, or Spark's default
        where none was. Spark has no per-query override for these."""
        prev = {k: self.spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            self.spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

    def _bounded_batches(self, est_row_bytes: int):
        """Vectorized-parquet batches sized in BYTES, not rows.

        Spark's columnar reader reserves capacity for
        ``spark.sql.parquet.columnarReaderBatchSize`` ROWS per column
        (default 4096) — calibrated for KB-sized rows. Bronze image rows
        carry full frames (data+errors ≈ 8·naxis1·naxis2 bytes — ~24 MB
        for a 2048×1489 SDSS frame), so one default batch would reserve
        ~100 GB per column vector and OOM any executor, at ANY cluster
        size. Clamp the row budget to [4, 4096] from the caller's row
        byte estimate, set around the phase's actions.
        """
        batch = min(4096, max(4, self._VECTOR_BATCH_TARGET_BYTES // est_row_bytes))
        return self._session_conf(
            {"spark.sql.parquet.columnarReaderBatchSize": str(batch)}
        )

    def _frame_row_bytes(self) -> int | None:
        """data+errors bytes of the largest zoom-0 frame (one column-pruned
        scalar lookup against bronze, made once per written ``images``),
        or None on an empty table."""
        if "images" not in self._frame_bytes:
            row = (
                self.read("images")
                .where(F.col("zoom") == 0)
                .agg(F.max("naxis1").alias("w"), F.max("naxis2").alias("h"))
                .head()
            )
            self._frame_bytes["images"] = (
                None if row is None or row["w"] is None
                else 8 * int(row["w"]) * int(row["h"])
            )
        return self._frame_bytes["images"]

    @contextlib.contextmanager
    def _frame_bounded_batches(self):
        """`_bounded_batches` sized for whatever the pixel path scans:
        tile rows in tiled mode, full frames otherwise."""
        if self.tiled:
            with self._bounded_batches(8 * self.tile * self.tile):
                yield
            return
        est = self._frame_row_bytes()
        if est is None:
            yield
            return
        with self._bounded_batches(est):
            yield

    # -- phases ------------------------------------------------------------

    def phase_ingest(self, images: DataFrame, spectra: DataFrame) -> None:
        """Bronze: persist observation tables (ingest sources produce them).

        Tiled mode additionally explodes the just-written frames into the
        ``image_tiles`` table (one extra frame pass, paid once at ingest;
        every gold rebuild afterwards reads tiles only)."""
        self.write_bronze(images, "images")
        self.write_bronze(spectra, "spectra")
        if self.tiled:
            self.phase_tiles()

    def phase_tiles(self) -> None:
        """Explode the written ``images`` bronze into ``image_tiles`` (one
        extra frame pass, paid once; every gold rebuild afterwards reads
        tiles only)."""
        from hiss_cube_spark.operators.tiles import tile_images

        est = self._frame_row_bytes()
        with self._bounded_batches(est or 8 * self.tile * self.tile):
            t = tile_images(self.read("images"), tile=self.tile)
            # Streaming write, deliberately: NO repartition (a range
            # shuffle moves the whole pixel corpus — measured 87 s →
            # 407 s ingest), NO sort and NO partitionBy (both buffer
            # the explode output per task — pixel-sized buffers that
            # OOM'd an 8-thread/24 g run). The explode order is
            # already per-frame contiguous, so row groups carry tight
            # (image_id, zoom) min/max runs for skipping; zoom is a
            # filter column, not a partition dir, on this table. A
            # 16 MB row group bounds each writer's buffer to
            # ~32 tile rows.
            self._forget("image_tiles")
            obs = Observation("image_tiles")
            w = t.observe(obs, F.count(F.lit(1)).alias("rows"))
            w.write.mode("overwrite").option(
                "parquet.block.size", 16 * 1024 * 1024
            ).parquet(self.path("image_tiles"))
            self.stats["image_tiles"] = int(obs.get["rows"])

    def phase_link(self) -> None:
        """Silver: the J2 cross-match link table."""
        images = self.read("images").where(F.col("zoom") == 0)
        spectra = self.read("spectra").where(F.col("zoom") == 0)
        refs = build_cutout_refs(
            spectra,
            images,
            match_radius_deg=self.match_radius_deg,
            zooms=self.zooms,
            cutout_size=self.cutout_size,
            max_refs=self.max_refs,
            index=self.spatial_index,
        )
        self._write_observed(refs, "cutout_refs", ["zoom"])

    def phase_ml_cube(self) -> None:
        """Gold: the Global DB query.

        The cutout table is eagerly pinned (inside the bounded-batch
        context — that is when the frame scan actually runs): both gold
        writes AND the band-completeness set derive from it, so without
        the pin this phase re-scans the full-frame bronze table once per
        action (2-3× the dominant I/O; measured 68.6 s → one scan on the
        full-scale galaxy corpus). The pinned table is cutouts, not
        frames — cutout_size²-bounded per row, executor-local — and is
        released once both gold writes are done."""
        spectra = assign_targets(self.read("spectra"))
        refs = self.read("cutout_refs")
        images = self.read("images")
        tiles = self.read("image_tiles") if self.tiled else None
        with self._frame_bounded_batches(), pins.scope():
            spec_cube, img_cube = build_ml_cube(
                spectra, refs, images, materialize=True, tiles=tiles, tile=self.tile
            )
            self._write_observed(spec_cube, "ml_cube_spectra", ["zoom"])
            self._write_observed(img_cube, "ml_cube_images", ["zoom"])

    def phase_visualization(self, export: str | None = None, export_zoom: int = 0) -> None:
        """Gold: the per-zoom point table; optionally export one zoom as a
        VOTable or FITS binary table (S10/S11, driver-side — result tables)."""
        if export is not None and export not in ("votable", "fits", "both"):
            raise ValueError(f"export must be one of votable|fits|both, got {export!r}")
        if export is not None and not (0 <= export_zoom < self.zooms):
            raise ValueError(f"export_zoom {export_zoom} outside built zooms [0, {self.zooms})")
        spectra = self.read("spectra")
        refs = self.read("cutout_refs")
        images = self.read("images")
        tiles = self.read("image_tiles") if self.tiled else None
        viz = build_visualization_cube(
            spectra, refs, images, tiles=tiles, tile=self.tile
        )
        with self._frame_bounded_batches():
            self._write_observed(viz, "visualization_cube", ["zoom"])
        if export:
            from hiss_cube_spark.sources.exports import write_fits_table, write_votable

            one = self.read("visualization_cube").where(F.col("zoom") == export_zoom)
            if export in ("votable", "both"):
                write_votable(one, self.path(f"visualization_zoom{export_zoom}.vot"))
            if export in ("fits", "both"):
                write_fits_table(one, self.path(f"visualization_zoom{export_zoom}.fits"))

    def create(
        self,
        images: DataFrame,
        spectra: DataFrame,
        export: str | None = None,
        export_zoom: int = 0,
    ) -> None:
        """The full ``create`` pipeline (ref director.py:15-48)."""
        self.phase_ingest(images, spectra)
        self.phase_link()
        self.phase_ml_cube()
        self.phase_visualization(export=export, export_zoom=export_zoom)
        with open(self.path("_stats.json"), "w") as f:
            json.dump(self.stats, f, indent=2, sort_keys=True)
