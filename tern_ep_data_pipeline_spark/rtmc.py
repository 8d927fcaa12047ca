"""RTMC dashboard codegen and screen-XML editing (S27 — driver side).

Parity target: the reference's ``code/rtmc_xml/rtmc_xml_parser.py`` —
``RtmcSyntaxGenerator`` (:627-1020) emits RTMC calculation-language
snippets (variable aliases, spatial averages, min-max range scaling,
cumulative daily totals, energy-balance composites) and ``rtmc_parser``
(:287-625) edits ``.rtmc2`` project XML in place (screens -> components ->
calculation text). Both are pure driver-side config tooling: no data-plane
Spark involvement. This module re-expresses them as a small functional
expression builder plus one generic ElementTree editor instead of a class
per component type.

RTMC expression grammar facts used here (from the reference's emitted
strings, e.g. :651-656, :671-679, :700-704, :725-731):
- ``Alias(name,"DataFile:merged.<var>");`` binds a source column; alias
  names may not contain ``-``.
- ``AvgSpa(a,b,...)`` is a spatial average across series.
- ``TotalOverTimeWithReset((expr)<scale>,Timestamp(var),RESET_DAILY)``
  accumulates with a daily reset.
- ``StartRelativeToNewest({},OrderCollected);`` / magnitude
  ``StartAtRecord(0,0,OrderCollected);`` are start conditions.
- ``MinRun``/``MaxRun`` are running extrema (used for range scaling).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Sequence
from dataclasses import dataclass

ALIAS_JOIN = "\r\n"

#: RTMC component type ids -> human names (rtmc_xml_parser.py:297-318).
COMPONENT_TYPES = {
    "10702": "Image",
    "10101": "Digital",
    "10602": "Time Series Chart",
    "10106": "Time",
    "10108": "Segmented Time",
    "10002": "Basic Status Bar",
    "10207": "Multi-State Alarm",
    "10205": "Comm Status Alarm",
    "10712": "Multi-State Image",
    "10204": "No Data Alarm",
    "10606": "Wind Rose",
    "10503": "Rotary Gauge",
    "10806": "Group",
}


def _sanitise(var: str) -> str:
    return var.replace("-", "_")


@dataclass(frozen=True)
class RtmcExpr:
    """An RTMC calculation: alias declarations + the evaluated expression.

    ``text`` renders the component calculation string the way the
    reference's ``as_str=True`` paths do (aliases, optional start
    condition, then the expression).
    """

    aliases: tuple[str, ...]
    expression: str
    start_condition: str | None = None

    @property
    def text(self) -> str:
        parts = []
        if self.start_condition:
            parts.append(self.start_condition)
        parts.append(ALIAS_JOIN.join(self.aliases))
        parts.append(self.expression)
        return "\r\n".join(p for p in parts if p)

    def with_start(self, cond: str) -> "RtmcExpr":
        return RtmcExpr(self.aliases, self.expression, start_condition(cond))


def alias(var: str, source: str = "DataFile:merged") -> str:
    """One alias line (rtmc_xml_parser.py:725-731)."""
    return f'Alias({_sanitise(var)},"{source}.{var}");'


def start_condition(kind: str) -> str:
    """Start condition string (rtmc_xml_parser.py:650-656)."""
    table = {
        "newest": "StartRelativeToNewest({},OrderCollected);",
        "absolute": "StartAtRecord(0,0,OrderCollected);",
    }
    return table[kind]


def comm_status(logger_name: str) -> str:
    """Comm-state predicate (rtmc_xml_parser.py:751-767)."""
    return f'"Server:__statistics__.{logger_name}_std.Collection State" > 2 '


def no_data_status(logger_name: str, table_name: str) -> str:
    """No-data source string (rtmc_xml_parser.py:741-744)."""
    return f'"LinuxServer:{logger_name}.{table_name}"'


def variable(var_list: Sequence[str], scaled_to_range: bool = False) -> RtmcExpr:
    """Aliased output of one variable or the spatial average of several
    (rtmc_xml_parser.py:770-789). Range scaling forces an absolute start
    so MinRun/MaxRun see the whole record."""
    aliases = tuple(alias(v) for v in var_list)
    expr = ",".join(_sanitise(v) for v in var_list)
    if len(var_list) > 1:
        expr = f"AvgSpa({expr})"
    out = RtmcExpr(aliases, expr)
    if scaled_to_range:
        scaled = (
            f"({expr} - MinRun({expr})) / (MaxRun({expr}) - MinRun({expr}))"
        )
        out = RtmcExpr(aliases, scaled, start_condition("absolute"))
    return out


def cumulative_daily(
    inner: RtmcExpr, timestamp_var: str, scale: str = ""
) -> RtmcExpr:
    """Daily-reset cumulative total of an expression
    (rtmc_xml_parser.py:661-683); ``scale`` is appended verbatim
    (e.g. ``*1800/10^6`` to convert W/m2 x 30 min to MJ/m2)."""
    expr = "\n".join(
        [
            "TotalOverTimeWithReset(",
            "(",
            inner.expression,
            f"){scale},",
            f"Timestamp({_sanitise(timestamp_var)}),",
            "RESET_DAILY",
            ")",
        ]
    )
    return RtmcExpr(inner.aliases, expr, inner.start_condition)


def _merge(parts: Sequence[RtmcExpr], expression: str) -> RtmcExpr:
    seen: dict[str, None] = {}
    for p in parts:
        for a in p.aliases:
            seen.setdefault(a, None)
    return RtmcExpr(tuple(seen), expression)


def net_radiation(cumulative: bool = False) -> RtmcExpr:
    """Rn = Fsd - Fsu + Fld - Flu (rtmc_xml_parser.py:792-814)."""
    parts = [variable([v]) for v in ("Fsd", "Fsu", "Fld", "Flu")]
    out = _merge(parts, "Fsd-Fsu+Fld-Flu")
    if cumulative:
        out = cumulative_daily(out, "Fsd", scale="*1800/10^6")
    return out


def net_turbulent_energy() -> RtmcExpr:
    """Fh + Fe (rtmc_xml_parser.py:817-831)."""
    return _merge([variable(["Fh"]), variable(["Fe"])], "Fh+Fe")


def soil_heat_flux(soil_hf_list: Sequence[str]) -> RtmcExpr:
    """Spatial average of soil heat-flux plates."""
    return variable(list(soil_hf_list))


def soil_heat_storage(
    soil_t_list: Sequence[str],
    cp: float = 1800,
    seconds: int = 1800,
    layer_depth: float = 0.08,
) -> RtmcExpr:
    """Storage term from soil-T change over the averaging interval
    (rtmc_xml_parser.py:938-975): Cp * dT / (dt * depth)."""
    avg = variable(list(soil_t_list))
    expr = "\n".join(
        [
            "Cp*(",
            f"{avg.expression}-",
            f"Last({avg.expression})",
            f")/({seconds}*{layer_depth})",
        ]
    )
    return RtmcExpr(avg.aliases + (f"Alias(Cp,{cp});",), expr)


def corrected_soil_heat_flux(
    soil_hf_list: Sequence[str], soil_t_list: Sequence[str]
) -> RtmcExpr:
    """Plate flux plus the storage of the soil layer above the plates."""
    flux = soil_heat_flux(soil_hf_list)
    storage = soil_heat_storage(soil_t_list)
    return _merge(
        [flux, storage], f"{flux.expression}+\n(\n{storage.expression}\n)"
    )


def net_non_radiant_energy(
    soil_hf_list: Sequence[str], soil_t_list: Sequence[str] | None = None
) -> RtmcExpr:
    """Fh + Fe + G (rtmc_xml_parser.py:835-874)."""
    turb = net_turbulent_energy()
    soil = (
        corrected_soil_heat_flux(soil_hf_list, soil_t_list)
        if soil_t_list
        else soil_heat_flux(soil_hf_list)
    )
    return _merge([turb, soil], f"{turb.expression}+\n(\n{soil.expression}\n)")


def energy_balance_residual(
    soil_hf_list: Sequence[str], soil_t_list: Sequence[str] | None = None
) -> RtmcExpr:
    """Rn - (Fh + Fe + G) (rtmc_xml_parser.py:878-902)."""
    rn = net_radiation()
    non_rad = net_non_radiant_energy(soil_hf_list, soil_t_list)
    return _merge(
        [rn, non_rad], f"{rn.expression}-\n(\n{non_rad.expression}\n)"
    )


class RtmcProject:
    """Edit a ``.rtmc2`` project file in place.

    One generic editor instead of the reference's per-type editor classes
    (rtmc_xml_parser.py:24-285): every supported component stores its
    calculation under a ``calculation`` child, so get/set works uniformly;
    component-specific children (trace calculations, wind columns, image
    names) are addressed by explicit subpath.
    """

    def __init__(self, path: str):
        self.path = path
        self.tree = ET.parse(path)
        self.root = self.tree.getroot()

    # -- lookup -----------------------------------------------------------
    def screens(self) -> list[ET.Element]:
        return self.root.findall("./Screens/screen")

    def screen(self, name: str) -> ET.Element:
        el = self.root.find(f'./Screens/screen[@screen_name="{name}"]')
        if el is None:
            raise KeyError(f"no screen named {name!r}")
        return el

    def components(
        self, screen_name: str, type_name: str | None = None
    ) -> list[ET.Element]:
        """Components of a screen, descending into Group components the way
        the reference does (rtmc_xml_parser.py:452-465)."""
        comps = self.screen(screen_name).findall("./Components/component")
        out = []
        for c in comps:
            if COMPONENT_TYPES.get(c.attrib.get("type")) == "Group":
                out.extend(c.findall("Components/component"))
            else:
                out.append(c)
        if type_name is None:
            return out
        wanted = {k for k, v in COMPONENT_TYPES.items() if v == type_name}
        return [c for c in out if c.attrib.get("type") in wanted]

    def component(self, screen_name: str, component_name: str) -> ET.Element:
        for c in self.components(screen_name):
            if c.attrib.get("name") == component_name:
                return c
        raise KeyError(f"no component named {component_name!r}")

    # -- calculation text -------------------------------------------------
    def get_calculation(
        self, comp: ET.Element, subpath: str = "calculation"
    ) -> str | None:
        el = comp.find(subpath)
        return None if el is None else el.text

    def set_calculation(
        self, comp: ET.Element, text: str, subpath: str = "calculation"
    ) -> None:
        el = comp.find(subpath)
        if el is None:
            raise KeyError(f"component has no {subpath!r} element")
        el.text = text

    # -- file sources -----------------------------------------------------
    def set_source_file(self, source_name: str, path: str) -> None:
        """Repoint a data-file source (rtmc_xml_parser.py:98-122)."""
        for src in self.root.iter("source"):
            if src.attrib.get("name") == source_name:
                src.find("settings").attrib["file-name"] = path
                return
        raise KeyError(f"no source named {source_name!r}")

    def write(self, path: str | None = None) -> None:
        self.tree.write(path or self.path, encoding="UTF-8", xml_declaration=True)
