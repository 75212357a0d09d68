"""Search parameter object — the analogue of the reference's mustache
template parameters (``SearchTemplates.java:39-44``: searchTerm, prefix?,
hasCenter?, lat, lng, zoom, place) mapped to the transcript domain:

| reference param | here           |
|-----------------|----------------|
| searchTerm      | query          |
| prefix          | prefix (autocomplete branch, points_search.json:28-65) |
| fuzziness AUTO  | fuzzy (non-prefix branch, points_search.json:94-104)   |
| place filter    | filter_role / filter_tool (points_search.json:174-183) |
| hasCenter+geo   | recency (now_epoch) (points_search.json:131-158)       |
| exact template  | exact (points_search_exact.json)                        |
| size            | k (points_search.json:2)                                |
| name/alt boosts | multifield (text x5 + meta x3, points_search.json:70,90)|
| phrase tiers    | phrase_tiers (constant_score 12/6,                      |
|                 |  points_search.json:16-27,74-85)                        |
"""
from __future__ import annotations

from dataclasses import dataclass

from .fuzzy import auto_fuzz


@dataclass(frozen=True)
class SearchParams:
    query: str
    operator: str = "or"          # "or" | "and"
    prefix: bool = False          # last term matches by prefix
    fuzzy: bool = False           # AUTO edit-distance expansion
    exact: bool = False           # keyword-equality constant-score path
    filter_role: str | None = None
    filter_tool: str | None = None
    recency: bool = False
    now_epoch: float = 1_768_435_200.0   # 2026-01-15T00:00:00Z
    k: int = 20
    # bool.should composition extras (contribute to the bool score BEFORE
    # the function_score saturation, like the reference's should clauses):
    multifield: bool = False      # text x5 + meta x3 instead of text x1
    phrase_tiers: bool = False    # +12 exact keyword, +6 contained phrase

    def auto_fuzz(self, term: str) -> int:
        return auto_fuzz(term)
