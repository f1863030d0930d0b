"""The FFI export transform pipeline, re-expressed Spark-first.

Reference: class FFIFile in /root/reference/parser/xml.py — an eager,
single-threaded pandas pipeline. Here every stage declares a lazy DataFrame
plan in a plain ``{table: DataFrame}`` dict (the reference's ``_data_map``,
parser/xml.py:43); Catalyst prunes/pushes/broadcasts, and nothing
materializes until a sink action. Stage map (SURVEY.md section 3.2):

  extract():   _parse_idents       xml.py:126-195  (J6/J7 lookups -> joins,
                                   A4 keep-first dedups, P5 null-drops)
  transform(): _attr_to_many       xml.py:197-302  (J1 6-way chain, A1
                                   pivot per method, J8 species join, A5
                                   seqnums, unit fan-out)
               _sample_to_many     xml.py:304-367  (J2 chain, A2 pivot,
                                   F15 generated GUIDs)
               project/admin cols  xml.py:720-731
               Transect derivation xml.py:734-736
               _process_events     xml.py:369-508  (J3 8-way, A8 teams)
               _process_projects   xml.py:510-557  (J4 chain, VisitID)
               drop EAV bases      xml.py:741-744

Deliberate divergences from reference bugs/nondeterminism (SURVEY.md
appendix): Q3 (generated GUIDs actually work), Q5 (species lookup is a
left join keeping nulls instead of crashing), Q6/Q7 (fan-out joins are
deduplicated explicitly), Q8 (every keep-first/seqnum has a deterministic
tiebreak), Q9 (team lists are sorted), VisitID's NaN prefix renders ''
not 'nan'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.idents import (
    combine_teams,
    event_id,
    generated_guid,
    plot_id,
    project_id,
    visit_id,
)
from ..operators.pivot import eav_pivot

# Source tables never loaded to the warehouse (parser/xml.py:44-46).
EXCLUDED_TABLES = (
    "FuelConstants_DL",
    "FuelConstants_FWD",
    "FuelConstants_Veg",
    "FuelConstants_CWD",
    "Schema_Version",
    "Program",
    "Project",
    "DataGridViewSettings",
    "MasterSpecies_LastModified",
    "Settings",
)

_ATTR_AUDIT_COLS = (
    "AttributeRow_CreatedBy",
    "AttributeRow_CreatedDate",
    "AttributeRow_ModifiedBy",
    "AttributeRow_ModifiedDate",
)
_SAMPLE_AUDIT_COLS = (
    "SampleRow_CreatedBy",
    "SampleRow_CreatedDate",
    "SampleRow_ModifiedBy",
    "SampleRow_ModifiedDate",
)

_SAMPLE_TABLES_FOR_EVENTS = {
    # table -> column prefix for team aliases (xml.py:452-482)
    "SurfaceFuels_Duff_Litter_Sample": "Duff",
    "SurfaceFuels_1000Hr_Sample": "Hr",
    "SurfaceFuels_Fine_Sample": "Fine",
    "SurfaceFuels_Vegetation_Sample": "Veg",
    "Trees_Individuals_Sample": "Trees",
    "Trees_Saplings_DiameterClass_Sample": "Sap",
    "Trees_Seedlings_HeightClass_Sample": "Seed",
}


def method_table_name(method: str) -> str:
    """Method name -> table identifier (xml.py:262, F9)."""
    return (
        method.replace(" ", "")
        .replace("-", "_")
        .replace("(", "_")
        .replace(")", "_")
        .strip("_")
    )


def _methods_and_units(
    long: DataFrame,
) -> tuple[list[str], dict[str, list[str]]]:
    """ONE distinct-collect over (Method_Name, Method_UnitSystem) yields
    both the method list and each method's unit systems — the unit
    fan-out then needs no further Spark jobs (A6 distinct-collect is
    driver-side by design; it should cost one job, not one per method)."""
    pairs = long.select("Method_Name", "Method_UnitSystem").distinct().collect()
    units_by_method: dict[str, set] = {}
    for r in pairs:
        if r[0] is not None:
            units_by_method.setdefault(r[0], set()).add(r[1])
    methods = sorted(units_by_method)
    return methods, {
        m: sorted(u for u in us if u is not None)
        for m, us in units_by_method.items()
    }


def _backfill(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Typed-NULL backfill for audit columns absent from the XML
    (xml.py:233-241, 329-336; P8)."""
    for c in cols:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    return df


class FFIPipeline:
    """Lazy Spark re-expression of FFIFile.extract()/transform()."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = dict(tables)
        self.admin_unit: str | None = None
        self.version: str | None = None
        # frames this pipeline persisted (the deduplicated MacroPlot and
        # SampleEvent, and the two EAV long frames discovery collects
        # over) — the loaders release them per FILE instead of
        # clearCache()-ing the whole session (r11)
        self.persists: list[DataFrame] = []
        # SampleEvent joined to MacroPlot, before the team columns
        self._events: DataFrame | None = None

    # ------------------------------------------------------------------
    # extract
    # ------------------------------------------------------------------

    def extract(self) -> None:
        self._parse_idents()
        # header scalars (W2 positional head, xml.py:715-716) are
        # collected inside _discover's concurrent round — a standalone
        # .first() here was a full driver job round that warmed only ONE
        # partition of the parse cache (limit pushdown), so it paid
        # latency without even serving as the cache fill.

    def _parse_idents(self) -> None:
        """PlotID / EventID synthesis (xml.py:126-195).

        The reference probes lookup tables row-by-row inside .apply; here
        each probe family is ONE broadcast left join. The deduplicated
        MacroPlot and SampleEvent are cached: MacroPlot, SampleEvent,
        ProjectVisit and the EAV chains all read them, and uncached each
        reader would run the keep-first windows again."""
        reg = self.tables["RegistrationUnit"].select(
            "RegistrationUnit_GUID", "RegistrationUnit_Name"
        )
        mp = self.tables["MacroPlot"].join(
            F.broadcast(reg),
            F.col("MacroPlot_RegistrationUnit_GUID")
            == F.col("RegistrationUnit_GUID"),
            "left",
        )
        mp = mp.withColumn(
            "PlotID", plot_id("RegistrationUnit_Name", "MacroPlot_Name")
        ).drop("RegistrationUnit_GUID", "RegistrationUnit_Name")
        # keep-first per PlotID by DateIn; GUID tiebreak for determinism (Q8)
        mp = mp.na.drop(subset=["MacroPlot_DateIn"])
        w = Window.partitionBy("PlotID").orderBy(
            "MacroPlot_DateIn", "MacroPlot_GUID"
        )
        mp = (
            mp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        self.persists.append(mp)
        self.tables["MacroPlot"] = mp

        plots = mp.select(
            F.col("MacroPlot_GUID").alias("_plot_guid"),
            F.col("PlotID").alias("_plot_id"),
        )
        se = self.tables["SampleEvent"].join(
            F.broadcast(plots),
            F.col("SampleEvent_Plot_GUID") == F.col("_plot_guid"),
            "left",
        )
        se = se.withColumn(
            "EventID",
            event_id(F.coalesce(F.col("_plot_id"), F.lit("")), "SampleEvent_Date"),
        ).drop("_plot_guid", "_plot_id")
        se = se.filter(F.col("EventID") != "")
        w = Window.partitionBy("EventID").orderBy("EventID", "SampleEvent_GUID")
        se = (
            se.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        self.persists.append(se)
        self.tables["SampleEvent"] = se

    # ------------------------------------------------------------------
    # transform
    # ------------------------------------------------------------------

    def transform(self) -> None:
        self._discover()
        self._attr_to_many()
        self._sample_to_many()

        pu = self.tables["ProjectUnit"].withColumn(
            "ProjectID", project_id("ProjectUnit_Name")
        )
        self.tables["ProjectUnit"] = pu.withColumn(
            "AdminUnit", F.lit(self.admin_unit)
        )
        self.tables["MacroPlot"] = self.tables["MacroPlot"].withColumn(
            "AdminUnit", F.lit(self.admin_unit)
        )

        # Transect derivation (xml.py:734-736): 4-col distinct + Length=75
        if "SurfaceFuels_Fine_Attribute" in self.tables:
            fine = self.tables["SurfaceFuels_Fine_Attribute"]
            cols = [
                c
                for c in ("EventID", "Transect", "Azimuth", "Slope")
                if c in fine.columns
            ]
            self.tables["Transect"] = (
                fine.select(*cols).distinct().withColumn("Length", F.lit(75))
            )

        self._process_events()
        self._process_projects()

        for name in ("SampleData", "SampleRow", "AttributeRow", "AttributeData"):
            self.tables.pop(name, None)

    # -- EAV observations -> per-method wide tables (xml.py:197-302) ----

    def _attr_long(self) -> DataFrame:
        """J1: the 6-way EAV assembly chain. Method/MethodAttribute are
        field dictionaries — broadcast; the fact-side legs shuffle on
        their row ids."""
        t = self.tables
        joined = (
            _backfill(t["AttributeRow"], _ATTR_AUDIT_COLS)
            .join(
                t["AttributeData"],
                F.col("AttributeRow_ID") == F.col("AttributeData_DataRow_ID"),
                "left",
            )
            .join(
                F.broadcast(t["MethodAttribute"]),
                F.col("AttributeData_MethodAtt_ID") == F.col("MethodAtt_ID"),
                "left",
            )
            .join(
                F.broadcast(t["Method"]),
                F.col("MethodAtt_Method_GUID") == F.col("Method_GUID"),
                "left",
            )
            .join(
                t["SampleRow"],
                F.col("AttributeData_SampleRow_ID") == F.col("SampleRow_ID"),
                "left",
            )
            .join(
                t["SampleData"],
                F.col("AttributeData_SampleRow_ID")
                == F.col("SampleData_SampleRow_ID"),
                "left",
            )
            .join(
                t["SampleEvent"].select("SampleEvent_GUID", "EventID"),
                F.col("SampleData_SampleEvent_GUID") == F.col("SampleEvent_GUID"),
                "left",
            )
        )
        return joined.select(
            "EventID",
            "SampleData_SampleEvent_GUID",
            F.col("AttributeRow_DataRow_GUID").alias("AttributeData_DataRow_GUID"),
            "MethodAtt_FieldName",
            "AttributeData_Value",
            "Method_Name",
            "Method_UnitSystem",
        )

    def _discover(self) -> None:
        """Every eager driver-side discovery the transform needs, in TWO
        job rounds instead of six (r10).

        Round 1 is ONE collect — attr_long's methods+units — that fully
        materializes the shared XML parse cache and the attr_long
        persist, and with them the MacroPlot and SampleEvent caches
        (attr_long joins SampleEvent, which broadcasts MacroPlot), so
        no round-2 job fills a cache a sibling is reading. A
        ``.first()`` warmer is NOT enough: limit pushdown computes a
        single cache partition, and every later concurrent job would
        re-parse the rest — the r8 double-parse negative
        (PERFORMANCE.md) in concurrent form. Round 2 runs the four
        remaining independent discovery actions concurrently on
        InheritableThread workers, each riding the warm parse cache;
        the sample_long persist has exactly ONE consumer in the round
        (the cache-ordering rule), and the two fields collects touch
        only dictionary tags, never the long sides.

        Discovery stays collect-based by design (A6 distinct-collect is
        driver-side; pivot domains must be known before plan building) —
        this only collapses the job-round latency, not the jobs' work.
        """
        from ..parallel import run_parallel

        # cache: every per-method branch filters this same plan
        attr_long = self._attr_long().persist()
        self.persists.append(attr_long)
        # ONE collect discovers methods AND their unit systems (A6
        # distinct-collect). Do NOT merge this with the fields collect:
        # this collect populates the rootdf/attr_long persists, and the
        # dictionary collects then ride the cache — a combined one-job
        # join puts two uncached XML-parse subtrees in one DAG and runs
        # the parse twice (measured r8: warm x16 11.7 -> 13.4s, cold
        # 22.8 -> 52s; PERFORMANCE.md "Negative result").
        attr_methods, attr_units = _methods_and_units(attr_long)

        sample_long = self._sample_long().persist()
        self.persists.append(sample_long)
        # Known pivot domain per method (scale path: no distinct-collect
        # inside the pivot; schema is stable and declared). ONE aggregated
        # collect per family builds every method's field list — not one
        # Spark job per method — with a sorted deterministic order.
        attr_fields = (
            self.tables["MethodAttribute"]
            .join(
                self.tables["Method"],
                F.col("MethodAtt_Method_GUID") == F.col("Method_GUID"),
            )
            .groupBy("Method_Name")
            .agg(F.collect_set("MethodAtt_FieldName").alias("fields"))
        )
        samp_fields = (
            self.tables["SampleAttribute"]
            .join(
                self.tables["Method"],
                F.col("SampleAtt_Method_GUID") == F.col("Method_GUID"),
            )
            .groupBy("Method_Name")
            .agg(F.collect_set("SampleAtt_FieldName").alias("fields"))
        )
        tasks = {
            "admin": (
                self.tables["RegistrationUnit"]
                .select("RegistrationUnit_Name")
                .first
            ),
            "attr_fields": attr_fields.collect,
            "samp_mu": lambda: _methods_and_units(sample_long),
            "samp_fields": samp_fields.collect,
        }
        if "Schema_Version" in self.tables:
            tasks["version"] = (
                self.tables["Schema_Version"].select("Schema_Version").first
            )
        done, _ = run_parallel(tasks)
        row = done.get("version")
        self.version = row[0] if row else None
        row = done["admin"]
        self.admin_unit = row[0] if row else None
        self._attr_discovery = (
            attr_long,
            attr_methods,
            attr_units,
            {r["Method_Name"]: sorted(r["fields"]) for r in done["attr_fields"]},
        )
        samp_methods, samp_units = done["samp_mu"]
        self._samp_discovery = (
            sample_long,
            samp_methods,
            samp_units,
            {r["Method_Name"]: sorted(r["fields"]) for r in done["samp_fields"]},
        )

    def _attr_to_many(self) -> None:
        attr_long, methods, units_by_method, fields_by_method = (
            self._attr_discovery
        )
        species = self.tables.get("LocalSpecies")
        for method in methods:
            subset = attr_long.filter(F.col("Method_Name") == method).distinct()
            wide = eav_pivot(
                subset,
                index_cols=[
                    "EventID",
                    "SampleData_SampleEvent_GUID",
                    "AttributeData_DataRow_GUID",
                    "Method_UnitSystem",
                ],
                field_col="MethodAtt_FieldName",
                value_col="AttributeData_Value",
                field_names=fields_by_method.get(method, []),
            )
            wide = self._species_join(wide, species)
            if method == "Trees - Individuals":
                w = Window.partitionBy("EventID", "Species", "TagNo").orderBy(
                    "AttributeData_DataRow_GUID"
                )
                wide = wide.withColumn("StemNum", F.row_number().over(w))
            elif method == "Plot Info Wit Trees Comments3":
                if "WitTreeTagNo" not in wide.columns:
                    w = Window.partitionBy("EventID").orderBy(
                        "AttributeData_DataRow_GUID"
                    )
                    wide = wide.withColumn("WitTreeTagNo", F.row_number().over(w))
                w = Window.partitionBy("EventID").orderBy(
                    "WitDBH", "AttributeData_DataRow_GUID"
                )
                wide = (
                    wide.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            wide = wide.na.drop(subset=["EventID"])
            self._register_by_unit(wide, method, suffix="Attribute",
                                   drop_unit_when_multi=False,
                                   units=units_by_method[method])

    def _species_join(self, wide: DataFrame, species: DataFrame | None) -> DataFrame:
        """J8: every 'Spp' pivot column resolves to a USDA symbol via
        LocalSpecies (xml.py:264-272). Left join keeping nulls (Q5); the
        LAST Spp column wins, matching the reference's overwrite loop."""
        if species is None:
            return wide
        spp_cols = [c for c in wide.columns if "Spp" in c]
        for c in spp_cols:
            lookup = F.broadcast(
                species.select(
                    F.col("LocalSpecies_GUID").alias("_spp_guid"),
                    F.col("LocalSpecies_Symbol").alias("_spp_symbol"),
                )
            )
            wide = (
                wide.join(lookup, F.upper(F.col(c)) == F.col("_spp_guid"), "left")
                .withColumn("Species", F.col("_spp_symbol"))
                .drop("_spp_guid", "_spp_symbol")
            )
        return wide

    def _register_by_unit(
        self,
        wide: DataFrame,
        method: str,
        suffix: str,
        drop_unit_when_multi: bool,
        units: list[str],
    ) -> None:
        """Unit-system fan-out (xml.py:290-302, 355-367): one table per
        unit system when several exist; English keeps the bare name, and
        a single unit system drops the column. ``units`` is the
        already-collected unit list, so the split runs no Spark job."""
        table_name = method_table_name(method)
        if len(units) > 1:
            for unit in units:
                df = wide.filter(F.col("Method_UnitSystem") == unit)
                if drop_unit_when_multi:
                    df = df.drop("Method_UnitSystem")
                name = (
                    f"{table_name}_{suffix}"
                    if unit == "English"
                    else f"{table_name}_{unit}_{suffix}"
                )
                self.tables[name] = df
        else:
            self.tables[f"{table_name}_{suffix}"] = wide.drop("Method_UnitSystem")

    # -- EAV sample metadata -> per-method _Sample tables (xml.py:304-367)

    def _sample_long(self) -> DataFrame:
        t = self.tables
        joined = (
            _backfill(t["SampleRow"], _SAMPLE_AUDIT_COLS)
            .join(
                t["SampleData"],
                F.col("SampleRow_ID") == F.col("SampleData_SampleRow_ID"),
                "left",
            )
            .join(
                F.broadcast(t["SampleAttribute"]),
                F.col("SampleData_SampleAtt_ID") == F.col("SampleAtt_ID"),
                "left",
            )
            .join(
                F.broadcast(t["Method"]),
                F.col("SampleAtt_Method_GUID") == F.col("Method_GUID"),
                "left",
            )
        )
        return joined.select(
            F.col("SampleRow_Original_GUID").alias("SampleData_SampleRow_GUID"),
            "SampleData_SampleEvent_GUID",
            "SampleAtt_FieldName",
            "SampleData_Value",
            F.col("SampleRow_CreatedBy").alias("SampleData_CreatedBy"),
            F.col("SampleRow_CreatedDate").alias("SampleData_CreatedDate"),
            F.col("SampleRow_ModifiedBy").alias("SampleData_ModifiedBy"),
            F.col("SampleRow_ModifiedDate").alias("SampleData_ModifiedDate"),
            "Method_Name",
            "Method_UnitSystem",
        )

    def _sample_to_many(self) -> None:
        sample_long, methods, units_by_method, fields_by_method = (
            self._samp_discovery
        )
        for method in methods:
            subset = sample_long.filter(F.col("Method_Name") == method)
            wide = eav_pivot(
                subset,
                index_cols=[
                    "SampleData_SampleRow_GUID",
                    "SampleData_SampleEvent_GUID",
                    "SampleData_CreatedBy",
                    "SampleData_CreatedDate",
                    "SampleData_ModifiedBy",
                    "SampleData_ModifiedDate",
                    "Method_UnitSystem",
                ],
                field_col="SampleAtt_FieldName",
                value_col="SampleData_Value",
                field_names=fields_by_method.get(method, []),
            )
            # Q3: one generated GUID per pivoted sample row. The reference
            # generates per LONG row (and its axis bug yields NaN); doing
            # that here would fan the pivot out one row per attribute.
            wide = wide.withColumn("SampleData_Original_GUID", generated_guid())
            self._register_by_unit(wide, method, suffix="Sample",
                                   drop_unit_when_multi=True,
                                   units=units_by_method[method])

    # -- events: 8-way join + team combination (xml.py:369-508) ---------

    def _process_events(self) -> None:
        t = self.tables
        se = t["SampleEvent"]
        mp = t["MacroPlot"]
        joined = se.join(
            mp, F.col("SampleEvent_Plot_GUID") == F.col("MacroPlot_GUID"), "left"
        )
        self._events = joined
        team_cols: dict[str, tuple[str, str]] = {}
        for table, prefix in _SAMPLE_TABLES_FOR_EVENTS.items():
            fcol, ecol = f"{prefix}FieldTeam", f"{prefix}EntryTeam"
            if table not in t:
                continue
            s = t[table]
            field_src = "FieldTeam" if "FieldTeam" in s.columns else None
            entry_src = (
                "EntryTeam" if "EntryTeam" in s.columns else field_src
            )  # xml.py:466-481: EntryTeam falls back to FieldTeam
            if field_src is None:
                continue
            # Q6: the reference fans out if a _Sample table has >1 row per
            # event; we dedupe explicitly (deterministic keep-first).
            w = Window.partitionBy("SampleData_SampleEvent_GUID").orderBy(
                "SampleData_SampleRow_GUID"
            )
            s1 = (
                s.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(
                    F.col("SampleData_SampleEvent_GUID").alias(f"_ev_{prefix}"),
                    F.col(field_src).alias(fcol),
                    F.col(entry_src).alias(ecol),
                )
            )
            joined = joined.join(
                s1, F.col("SampleEvent_GUID") == F.col(f"_ev_{prefix}"), "left"
            ).drop(f"_ev_{prefix}")
            team_cols[prefix] = (fcol, ecol)

        def cols_or_null(prefixes: list[str], idx: int) -> list:
            # names (or None for absent tables), NOT Columns: the
            # name/None form lets combine_teams build its whole tree as
            # ONE SQL expression — a single py4j round-trip instead of
            # ~170 per personnel column (r12; profiled at ~0.75s of
            # pure driver construction per FILE). A None contributes an
            # empty list, identical to the old lit(None) path.
            return [
                team_cols[p][idx] if p in team_cols else None
                for p in prefixes
            ]

        fuels = ["Duff", "Hr", "Fine", "Veg"]
        trees = ["Trees", "Sap", "Seed"]
        joined = (
            joined.withColumn("FuelsObserver", combine_teams(*cols_or_null(fuels, 0)))
            .withColumn("FuelsRecorder", combine_teams(*cols_or_null(fuels, 1)))
            .withColumn("TreeObserver", combine_teams(*cols_or_null(trees, 0)))
            .withColumn("TreeRecorder", combine_teams(*cols_or_null(trees, 1)))
        )
        self.tables["SampleEvent"] = joined

    # -- projects: monitoring-status chain + VisitID (xml.py:510-557) ---

    def _process_projects(self) -> None:
        t = self.tables
        temp = (
            t["MonitoringStatus"]
            .join(
                t["MM_MonitoringStatus_SampleEvent"],
                F.col("MonitoringStatus_GUID") == F.col("MM_MonitoringStatus_GUID"),
                "left",
            )
            .join(
                # the events before their team joins: each team frame
                # keeps one row per event, so those left joins change
                # neither the rows nor GUID/Date, and this branch skips
                # their pivots and windows
                self._events.select(
                    F.col("SampleEvent_GUID").alias("_se_guid"),
                    F.col("SampleEvent_Date").alias("_se_date"),
                ),
                F.col("MM_SampleEvent_GUID") == F.col("_se_guid"),
                "left",
            )
            .join(
                t["ProjectUnit"],
                F.col("MonitoringStatus_ProjectUnit_GUID")
                == F.col("ProjectUnit_GUID"),
                "left",
            )
        )
        temp = temp.withColumn(
            "VisitYear", F.year(F.to_timestamp(F.col("_se_date")))
        ).withColumn(
            "VisitID",
            visit_id(
                F.col("ProjectID"),
                F.col("VisitYear"),
                F.trim(F.col("MonitoringStatus_Prefix")),
                F.trim(F.col("MonitoringStatus_Base")),
                F.trim(F.col("MonitoringStatus_Suffix")),
            ),
        ).drop("_se_guid", "_se_date")
        self.tables["ProjectVisit"] = temp

        # J5 + Q7: dedupe the (event -> VisitID) projection before joining
        visit = (
            temp.select(
                F.col("MM_SampleEvent_GUID").alias("_mm_guid"),
                F.col("VisitID"),
            )
            .na.drop(subset=["_mm_guid"])
        )
        w = Window.partitionBy("_mm_guid").orderBy("VisitID")
        visit = (
            visit.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        self.tables["SampleEvent"] = (
            t["SampleEvent"]
            .join(
                # one narrow row per event, like the plots lookup. As a
                # shuffle join AQE makes it a broadcast at run time only
                # when the visit side finishes before the event side's
                # exchange starts, so the plan would depend on timing
                F.broadcast(visit),
                F.col("SampleEvent_GUID") == F.col("_mm_guid"),
                "left",
            )
            .drop("_mm_guid")
        )

    # ------------------------------------------------------------------

    def run(self) -> dict[str, DataFrame]:
        self.extract()
        self.transform()
        return self.tables
