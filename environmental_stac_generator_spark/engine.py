"""EnvStacEngine — the programmatic facade (SURVEY §3.3).

The Spark twin of the reference's ``STACGenerator`` session object
(``stac/generator.py:40-77``): construct once, then run the
preprocess pipeline (scan → info → catalog assembly → raster/json
sinks) and the ingest pipeline (catalog → anti-join → sink) as lazy
DataFrame stages. Every stage returns a DataFrame so callers can
inspect, extend, or re-plan before any action runs — the reference's
hard-coded control flow becomes a composable logical plan.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from environmental_stac_generator_spark.functions.frequency import (
    parse_forecast_frequency,
)
from environmental_stac_generator_spark.operators import forecast as fc
from environmental_stac_generator_spark.plans import stac_catalog as sc
from environmental_stac_generator_spark.plans.config_guard import (
    store_or_validate_config,
)
from environmental_stac_generator_spark.sinks import raster, stac_json
from environmental_stac_generator_spark.sources import netcdf


@dataclass
class EnvStacEngine:
    """One engine instance per catalog (ref ``BaseSTAC.__init__``,
    ``stac/generator.py:40-77``)."""

    spark: SparkSession
    catalog_name: str = "forecasts"
    output_dir: str | Path = "data"
    file_server_url: str | None = None
    license: str = "other"
    decoder: netcdf.Decoder | None = None
    # metadata twin of `decoder`: None -> the real xarray header read
    # (raises without the raster stack); tests inject
    # netcdf.fake_meta_decoder
    meta_decoder: Callable[[str, bytes | None], dict] | None = None
    # WGS84 bbox reprojection kernel override (functions.geo
    # TransformFn) for environments without pyproj; None -> pyproj
    bbox_transform: Callable | None = None
    cog_encoder: raster.Encoder = field(default=raster.fake_tiff_encoder)
    # encode COGs from packed grid slabs (second decode pass, ~50x
    # less shuffle; byte-identical output) instead of the long rows
    packed_encode: bool = True
    # frames process() cached, released by release() — at 100 TB the
    # scan relation otherwise pins executor memory for the engine's
    # lifetime
    _persisted: list[DataFrame] = field(default_factory=list, repr=False)

    # ---- scan stage (S1/S2/U1) ----

    def scan(self, input_path: str) -> DataFrame:
        return netcdf.scan_netcdf(self.spark, input_path, decoder=self.decoder)

    def scan_metadata(self, input_path: str) -> DataFrame:
        return netcdf.scan_netcdf_metadata(
            self.spark, input_path, meta_decoder=self.meta_decoder
        )

    def _collection_crs(self, input_path: str) -> DataFrame | None:
        """(collection, crs) from the attr-only metadata scan — the
        input to WGS84 bbox reprojection and the item projection
        extension (ref ``stac/generator.py:581-584,255-260``). None
        when no metadata source exists in this environment (no
        injected meta_decoder AND no xarray): the pipeline then keeps
        its native-coordinate bbox behavior instead of failing."""
        if self.meta_decoder is None:
            import importlib.util

            if importlib.util.find_spec("xarray") is None:
                return None
        return (
            self.scan_metadata(input_path)
            .groupBy("collection")
            .agg(F.min("crs").alias("crs"))
        )

    # ---- derivation stages ----

    def forecast_info(self, long_df: DataFrame) -> DataFrame:
        return fc.forecast_info(long_df)

    def band_statistics(self, long_df: DataFrame) -> DataFrame:
        return fc.band_statistics(long_df)

    def process(
        self,
        input_path: str,
        forecast_frequency: str = "1days",
        stac_only: bool = False,
        overwrite: bool = True,
    ) -> dict[str, DataFrame]:
        """The flagship preprocess pipeline
        (ref ``process``, ``stac/generator.py:587-808``).

        Returns every stage's DataFrame; sinks have already run
        (they are actions), catalog frames are lazy.

        Cached until :meth:`release`: the packed grids (the long
        relation without ``packed_encode``), the slab ``summary`` that
        every catalog frame derives from, ``info``, the per-item
        ``leadtime_counts``, and the COG/NetCDF sink results. The
        summary is the catalog's one pass over the cells.
        """
        step, unit = parse_forecast_frequency(forecast_frequency)
        store_or_validate_config(
            self.spark,
            Path(self.output_dir) / "config.json",
            {self.catalog_name: {"forecast_frequency": forecast_frequency}},
        )
        if self.packed_encode:
            # ONE slab-level scan feeds everything: the long relation
            # is derived JVM-side (posexplode), so per-cell data never
            # crosses a Python boundary, and both raster sinks regroup
            # packed slabs instead of cells.
            grids = self._track(
                netcdf.scan_netcdf_grids(
                    self.spark, input_path, decoder=self.decoder
                ).persist()
            )
            long_df = netcdf.long_from_grids(grids)
        else:
            grids = None
            # the reference re-opens each file per stage (a missed
            # optimization, SURVEY §4) — we scan once and reuse
            long_df = self._track(self.scan(input_path).persist())
        crs_df = self._collection_crs(input_path)
        # the catalog's ONE pass over the cells: every catalog frame
        # derives from this summary's few rows; caching info and the
        # per-item leadtime counts as well spares each save_catalog
        # action re-deriving them from the summary
        summary = self._track(fc.slab_summary(long_df).persist())
        catalog = sc.build_catalog(
            summary,
            crs_by_collection=crs_df,
            bbox_transform=self.bbox_transform,
            license=self.license,
            leadtime_unit=unit,
            leadtime_step=step,
            file_server_url=self.file_server_url,
        )
        self._track(catalog["info"].persist())
        self._track(catalog["leadtime_counts"].persist())

        results: dict[str, DataFrame] = {"long": long_df, "summary": summary, **catalog}
        if crs_df is not None:
            results["crs"] = crs_df.withColumnRenamed(
                "collection", "collection_id"
            )
        if not stac_only:
            # sinks are actions: materialize now (persist so callers
            # can inspect the result rows without re-encoding)
            if self.packed_encode:
                cog_results = raster.encode_cogs_grids(
                    grids,
                    self.output_dir,
                    encoder=self.cog_encoder,
                    overwrite=overwrite,
                    leadtime_unit=unit,
                    leadtime_step=step,
                ).persist()
                self._track(cog_results).count()
                nc_results = raster.write_netcdf_slices_grids(
                    grids, self.output_dir, overwrite=overwrite
                ).persist()
                self._track(nc_results).count()
            else:
                cog_results = raster.encode_cogs(
                    long_df,
                    self.output_dir,
                    encoder=self.cog_encoder,
                    overwrite=overwrite,
                    leadtime_unit=unit,
                    leadtime_step=step,
                ).persist()
                self._track(cog_results).count()
                nc_results = raster.write_netcdf_slices(
                    long_df, self.output_dir, overwrite=overwrite
                ).persist()
                self._track(nc_results).count()
            results["cog_results"] = cog_results
            results["netcdf_results"] = nc_results
        # adopt any module-tracked pair-bucket pins this process() run
        # created into the engine's own release lifecycle: the module
        # registry is per-thread, so without the adoption a release()
        # called from another thread could never free them
        from environmental_stac_generator_spark.operators.lineage import (
            drain_tracked,
        )

        self._persisted.extend(drain_tracked())
        return results

    def _track(self, df: DataFrame) -> DataFrame:
        self._persisted.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame cached by earlier ``process`` calls —
        grids or long relation, slab summary, info, leadtime counts,
        sink results — plus any module-tracked pair-bucket caches
        (ADVICE r4). Call once the returned frames have been consumed
        (inspected / saved): results stay valid but recompute on next
        use."""
        from environmental_stac_generator_spark.operators.lineage import (
            release_tracked,
        )

        while self._persisted:
            self._persisted.pop().unpersist()
        release_tracked()

    # ---- catalog save (K4) ----

    def save_catalog(self, results: dict[str, DataFrame]) -> Path:
        # reference layout: JSON tree under data/stac/<catalog_name>
        # (ref stac/generator.py:106) — keeps the catalog separable
        # from the raster outputs, which the ingest CLI reads back
        stac_dir = Path(self.output_dir) / "stac" / self.catalog_name
        items_json = sc.items_to_json(
            results["items"], results["assets"], crs_by_collection=results.get("crs")
        )
        colls_json = sc.collections_to_json(
            results["collections"], assets=results["assets"]
        )
        stac_json.save_items(items_json, stac_dir)
        stac_json.save_collections(colls_json, stac_dir)
        ids = [r["collection_id"] for r in results["collections"].select("collection_id").collect()]
        return stac_json.save_catalog_root(
            self.catalog_name,
            f"{self.catalog_name} STAC catalog",
            ids,
            stac_dir,
        )
