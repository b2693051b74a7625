"""Local model registry with MLflow's stage-lifecycle semantics.

The reference resolves models from MLflow Model Registry by (name,
stage) (reference: MlflowModelResolver.java:96-117); ``resolve_model``
already reads the same stage-slot layout from disk. What a registry
server adds operationally is the VERSION lifecycle — register a new
version, transition it between stages, archive what it displaces. This
module implements exactly those semantics over the on-disk layout
(``<root>/<name>/versions/v<N>`` immutable version store +
``<root>/<name>/<Stage>`` slots the resolver reads), so the whole
train → register → promote → score loop runs in-sandbox; the REST swap
(`MlflowClient.create_model_version` / `transition_model_version_stage`)
is one call per method with identical arguments.

Mirrored semantics (MLflow Model Registry, public API docs):
- versions are immutable and monotonically numbered per model name;
- a stage holds at most one version; promoting with
  ``archive_existing=True`` (the MLflow default workflow) moves the
  displaced version's stage label to Archived;
- transition targets are the fixed stage vocabulary
  (None/Staging/Production/Archived).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.ml import PipelineModel

__all__ = ["ModelRegistry", "STAGES", "dir_name"]

STAGES = ("None", "Staging", "Production", "Archived")


def dir_name(name: str) -> str:
    """On-disk directory of a model name: registry display names allow
    spaces and case ('Bot Detector', reference README.md:68); the layout
    uses 'bot_detector'."""
    return name.replace(" ", "_").lower()


class ModelRegistry:
    def __init__(self, root: str) -> None:
        self.root = root

    # ------------------------------------------------------------------
    def _versions_dir(self, name: str) -> str:
        return os.path.join(self.root, dir_name(name), "versions")

    def _version_path(self, name: str, version: int) -> str:
        return os.path.join(self._versions_dir(name), f"v{version}")

    def _meta_path(self, name: str, version: int) -> str:
        return os.path.join(self._version_path(name, version), "MLmodel.json")

    def _stage_slot(self, name: str, stage: str) -> str:
        return os.path.join(self.root, dir_name(name), stage)

    def list_versions(self, name: str) -> list[int]:
        d = self._versions_dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(m.group(1))
            for v in os.listdir(d)
            if (m := re.fullmatch(r"v(\d+)", v))
        )

    # ------------------------------------------------------------------
    def register_model_version(
        self, name: str, model: PipelineModel, signature: dict
    ) -> int:
        """`create_model_version`: persist an immutable new version in
        stage ``None`` and return its number."""
        version = (self.list_versions(name) or [0])[-1] + 1
        root = self._version_path(name, version)
        model.write().overwrite().save(os.path.join(root, "model"))
        with open(self._meta_path(name, version), "w") as f:
            json.dump(
                {
                    "name": name,
                    "version": version,
                    "stage": "None",
                    "signature": signature,
                },
                f,
                indent=2,
            )
        return version

    def get_version_stage(self, name: str, version: int) -> str:
        with open(self._meta_path(name, version)) as f:
            return json.load(f)["stage"]

    def get_latest_versions(
        self, name: str, stages: tuple[str, ...] = STAGES
    ) -> dict[str, int]:
        """`get_latest_versions`: highest version per requested stage."""
        out: dict[str, int] = {}
        for v in self.list_versions(name):
            st = self.get_version_stage(name, v)
            if st in stages:
                out[st] = v
        return out

    def _set_stage(self, name: str, version: int, stage: str) -> None:
        with open(self._meta_path(name, version)) as f:
            meta = json.load(f)
        meta["stage"] = stage
        with open(self._meta_path(name, version), "w") as f:
            json.dump(meta, f, indent=2)

    def transition(
        self,
        name: str,
        version: int,
        stage: str,
        *,
        archive_existing: bool = True,
    ) -> None:
        """`transition_model_version_stage`: move a version into
        ``stage``, archiving the version that held it (the default
        promote workflow), and materialize the stage slot
        ``resolve_model`` reads — so consumers see the promotion
        immediately, with no resolver change."""
        if stage not in STAGES:
            raise ValueError(f"unknown stage {stage!r}; one of {STAGES}")
        if not os.path.isdir(self._version_path(name, version)):
            raise KeyError(f"{name} v{version} is not registered")
        if archive_existing and stage in ("Staging", "Production"):
            for v in self.list_versions(name):
                if v != version and self.get_version_stage(name, v) == stage:
                    self._set_stage(name, v, "Archived")
        self._set_stage(name, version, stage)
        if stage in ("Staging", "Production"):
            slot = self._stage_slot(name, stage)
            shutil.rmtree(slot, ignore_errors=True)
            shutil.copytree(self._version_path(name, version), slot)
