"""Declarative source metadata: YAML → validated registry.

Parity with the reference's pydantic models (metadata.py:5-23 in
/root/reference): a Source is one ingestion unit; a SourceSystem is the
versioned catalog of sources plus zone defaults. Unknown reader types
fail at *load* time here (validator) rather than at dispatch time —
fail fast before any cluster time is spent.
"""

from __future__ import annotations

from pathlib import Path

import yaml
from pydantic import BaseModel, Field, field_validator

from .sources import READERS


class Source(BaseModel):
    id: str
    enabled: bool = True
    type: str
    domain: str
    entity: str
    options: dict = Field(default_factory=dict)
    raw_partitions: list[str] = Field(default_factory=lambda: ["ingest_date"])
    hub_primary_keys: list[str] = Field(default_factory=list)

    @field_validator("type")
    @classmethod
    def _known_type(cls, v: str) -> str:
        if v not in READERS:
            raise ValueError(
                f"unknown source type {v!r}; expected one of {sorted(READERS)}"
            )
        return v


class SourceSystem(BaseModel):
    version: int = 1
    defaults: dict = Field(default_factory=dict)
    sources: list[Source] = Field(default_factory=list)


def load_sources(path: str | Path) -> SourceSystem:
    with open(path) as f:
        payload = yaml.safe_load(f)
    return SourceSystem.model_validate(payload)
