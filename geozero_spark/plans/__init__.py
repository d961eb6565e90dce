"""Physical-plan helpers: session config, resumable stages."""

from . import session  # noqa: F401
