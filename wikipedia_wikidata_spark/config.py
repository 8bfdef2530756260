"""Shared configuration for the PySpark-native spatial importance engine.

Models the reference's config surface (``/root/reference/config/languages.txt``,
``config/wikidata_place_type_levels.csv``) as small Python constants that become
broadcast DataFrames. The sandbox build uses a 4-language subset (the reference's
CI uses a 2-language subset the same way, ``.github/workflows/ci.yml``).
"""

from __future__ import annotations

import os

# The generated-corpus cache: the data/ dir beside the imported package, so
# each checkout reads and writes its own corpus (sources/synth.py).
DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
)

# Languages included in the default sandbox build (the reference's CI uses a
# 2-language subset the same way, .github/workflows/ci.yml). The production
# configuration is LANGUAGES_FULL.
LANGUAGES: list[str] = ["en", "de", "bar", "li"]

# The reference's full production language set — the 39 Wikipedia editions of
# config/languages.txt:1-40 (a public list of Wikipedia language codes; read
# by lib/languages.py:4-12). The engine is language-count-agnostic: every
# operator takes a `languages` list, and tests/test_importance.py proves the
# pipeline + oracle at L=39 (the O(L^2)->one-shuffle claim at real L).
LANGUAGES_FULL: list[str] = [
    "ar", "bg", "ca", "cs", "da", "de", "en", "es", "eo", "eu",
    "fa", "fr", "ko", "hi", "hr", "id", "it", "he", "lt", "hu",
    "ms", "nl", "ja", "no", "pl", "pt", "kk", "ro", "ru", "sk",
    "sl", "sr", "fi", "sv", "tr", "uk", "vi", "war", "zh",
]

# Languages that appear in dumps but are filtered out (dirty data for tests).
EXCLUDED_LANGUAGES: list[str] = ["fr", "xx"]


def excluded_languages_for(languages: list[str]) -> list[str]:
    """Two dump-language codes guaranteed NOT in the active build list (the
    dirty-data rows the filters must drop); 'fr' is only usable as an
    excluded code when it is not an active language (it is in LANGUAGES_FULL)."""
    return [c for c in ("fr", "xx", "zz") if c not in languages][:2]

# Unit separator used inside span text payloads (FIXTURES.md §1).
SEP = "\x1f"

# Place-type → ontology level. Mirrors the *shape and breadth* of
# config/wikidata_place_type_levels.csv (199 place_type,level rows) without
# copying its rows: 10 curated types plus 190 generated ones (deterministic
# Q-ids, levels cycling 1..22 so many types SHARE a level — the A6/J6
# MAX(ont_level) tie-breaks of steps/wikidata_process.sh:44-66 are exercised
# at realistic key cardinality, 200 leveled types like the reference's 199).
PLACE_TYPE_LEVELS: list[tuple[str, int]] = [
    ("Q515", 14),      # city-like
    ("Q6256", 2),      # country-like
    ("Q486972", 16),   # settlement-like
    ("Q8502", 12),     # mountain-like
    ("Q4022", 12),     # river-like
    ("Q23397", 10),    # lake-like
    ("Q34442", 20),    # road-like
    ("Q532", 18),      # village-like
    ("Q3957", 15),     # town-like
    ("Q46831", 11),    # range-like
] + [(f"Q{50000 + i}", 1 + (i * 7) % 22) for i in range(190)]

# Place types that appear in the dump but have no level row (=> NULL ont_level,
# exercised by steps/wikidata_process.sh:44-48 leaving ont_level NULL).
UNLEVELED_PLACE_TYPES: list[str] = ["Q99999", "Q88888"]

ALL_PLACE_TYPES: list[str] = [t for t, _ in PLACE_TYPE_LEVELS] + UNLEVELED_PLACE_TYPES

# Importance floor (steps/wikidata_process.sh:156; README.md:71).
IMPORTANCE_FLOOR = 1e-10

# Cell-codec resolutions: H3-analog grid bit-widths per resolution.
# Chosen so cell edge ~ H3 res 5-9 edge lengths (8.5km/3.2km/1.2km/460m/174m):
# 360deg / 2^bits ~= edge_km / 111km.
CELL_RES_BITS: dict[int, int] = {5: 12, 6: 14, 7: 15, 8: 17, 9: 18}

# The point-in-polygon join's cell resolution: pip_join buckets on it, and
# suggest_pip_salt measures skew on the same key space.
PIP_RES = 5

# S2-analog (Morton / Z-order) fixed level.
MORTON_BITS = 16

# Web-mercator tile zoom levels for the tile pyramid.
TILE_ZOOMS: list[int] = [4, 6, 8, 10]

# Skew handling: cells with more than this many points get salted in the
# spatial join (north_rule: "partitioning / shuffle / skew handled explicitly").
MEGA_CELL_THRESHOLD = 20_000


def spans_dir_for(sf_dir: str) -> str:
    """Map a scale-factor dir (.../sf0.01) to our synthesized
    interleaved-documents dir (DATA_DIR/spans_sf0.01). A path that IS
    already a spans corpus dir (basename 'spans_*', e.g. a non-default
    language configuration from ensure_spans_data) maps to itself."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag.startswith("spans_"):
        return os.path.normpath(sf_dir)
    if not tag.startswith("sf"):
        tag = "sf0.01"
    return f"{DATA_DIR}/spans_{tag}"


def sf_of(sf_dir: str) -> float:
    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag.startswith("spans_"):
        tag = tag[len("spans_"):]
    try:
        return float(tag[2:].split("_")[0])
    except (ValueError, IndexError):
        return 0.01
