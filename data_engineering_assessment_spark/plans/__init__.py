"""Query plan registry — import side-effect registers all query keys."""

from . import (  # noqa: F401
    analytics,
    curation,
    insights,
    metrics,
    mlcorpus,
    parity,
    pipeline,
    relational,
    robust,
    spatial,
    training,
    warehouse,
)
from .registry import oracles, queries  # noqa: F401
