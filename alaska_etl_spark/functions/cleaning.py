"""Column-name normalization (SURVEY §2.3 P4).

Name normalization runs driver-side on the schema (cheap).
"""

from __future__ import annotations

import re


def normalize_column_name(name: str) -> str:
    """Lowercase; strip degree signs and parens; '%'→'pct'; spaces→'_'.

    Reference renames (nws_dag.py:86-89): e.g. 'Temperature (°F)' →
    'temperature_f', 'Sky Cover (%)' → 'sky_cover_pct'.
    """
    n = name.lower().strip()
    n = n.replace("%", "pct")
    n = re.sub(r"[°()]", "", n)
    n = re.sub(r"\s+", "_", n.strip())
    n = re.sub(r"_+", "_", n).strip("_")
    return n
