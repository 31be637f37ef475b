"""Service layer S3 + §2.12 — the reference's REST surface on the Spark
engine.

Mirrors /root/reference/main.py:79-331: upload (CSV-only gate, :94-95),
clean-data (validate → run → ``{base}_cleaned.csv`` + download URL,
:126-188), download (:190-202), file management (:204-238), and the
``/pipeline-info`` capability manifest (:240-331).

The request handlers are plain framework-free methods (testable without
an HTTP stack); ``create_app()`` wires them into FastAPI when it is
installed — this container does not ship it, so the wiring is
import-gated and exercised only by its presence.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from typing import Any

from pyspark.sql import SparkSession

from . import io as dfio
from .pipeline import CleaningPipeline, validate_operations

# Shares the package logger tree: attach pipeline.enable_run_logging()
# for the reference's persistent pipeline_log.txt behavior.
logger = logging.getLogger("dataforge_spark.service")
from .profile import dataset_info
from .sanitize import sanitize_for_json


class ServiceError(Exception):
    """Handler-level error carrying the HTTP status the wrapper maps to."""

    def __init__(self, status_code: int, detail: str):
        super().__init__(detail)
        self.status_code = status_code
        self.detail = detail


def pipeline_info() -> dict[str, Any]:
    """Capability manifest (reference /pipeline-info, main.py:240-331) —
    the authoritative list of operations, strategies and parameters this
    engine accepts. Same structure as the reference; option lists come
    from the operator modules so the manifest cannot drift from the code."""
    from .operators import missing_values, normalization, outliers, text_cleaning

    return {
        "status": "success",
        "operations": {
            "missing_values": {
                "description": "Handle missing values in the dataset",
                "strategies": list(missing_values.STRATEGIES),
                "parameters": {
                    "strategy": "string (required)",
                    "threshold": "float (0.0-1.0, optional)",
                    "columns": "list (optional)",
                },
            },
            "duplicates": {
                "description": "Remove duplicate rows from the dataset",
                "parameters": {"subset": "list (optional)", "keep": "string (optional)"},
            },
            "outliers": {
                "description": "Handle outliers in numeric columns",
                "methods": list(outliers.METHODS),
                "actions": list(outliers.ACTIONS),
                "parameters": {
                    "method": "string (required)",
                    "action": "string (required)",
                    "threshold": "float (optional)",
                    "columns": "list (optional)",
                },
            },
            "data_type_conversion": {
                "description": "Convert data types automatically or with custom mapping",
                "parameters": {
                    "auto_detect": "boolean (optional)",
                    "type_mapping": "dict (optional)",
                    "errors": "string (optional)",
                },
            },
            "text_cleaning": {
                "description": "Clean text columns with various operations",
                "operations": list(text_cleaning.OPS),
                "parameters": {
                    "operations": "list (required)",
                    "columns": "list (optional)",
                    "custom_patterns": "dict (optional)",
                },
            },
            "datetime_parsing": {
                "description": "Parse datetime columns and extract features",
                "parameters": {
                    "columns": "list (optional)",
                    "date_format": "string (optional)",
                    "auto_detect": "boolean (optional)",
                    "extract_features": "boolean (optional)",
                    "errors": "string (optional)",
                },
            },
            "encoding": {
                "description": "Encode categorical variables",
                "methods": ["label", "onehot", "target"],
                "parameters": {
                    "method": "string (required)",
                    "columns": "list (optional)",
                    "drop_first": "boolean (optional)",
                },
            },
            "typo_fix": {
                "description": "Fix typos and spelling errors",
                "methods": ["common_typos", "fuzzy_match", "spell_check"],
                "parameters": {
                    "method": "string (required)",
                    "columns": "list (optional)",
                    "similarity_threshold": "float (optional)",
                    "custom_dict": "dict (optional)",
                },
            },
            "normalization": {
                "description": "Normalize numerical data",
                "methods": list(normalization.METHODS),
                "parameters": {
                    "method": "string (required)",
                    "columns": "list (optional)",
                    "feature_range": "tuple (optional)",
                    "with_mean": "boolean (optional)",
                    "with_std": "boolean (optional)",
                },
            },
        },
    }


class DataForgeService:
    """Framework-free request handlers over the Spark engine."""

    def __init__(self, spark: SparkSession, upload_dir: str = "uploads"):
        self.spark = spark
        self.upload_dir = upload_dir
        os.makedirs(upload_dir, exist_ok=True)

    # -- GET / and /health ---------------------------------------------------
    def root(self) -> dict[str, Any]:
        return {"message": "Data Cleaning Pipeline API", "status": "running"}

    def health(self) -> dict[str, Any]:
        return {"status": "healthy", "pipeline": "ready"}

    # -- POST /upload --------------------------------------------------------
    def upload(self, filename: str, src_path: str) -> dict[str, Any]:
        """CSV-only gate (reference main.py:94-95), save, profile."""
        if not filename.endswith(".csv"):
            raise ServiceError(400, "Only CSV files are supported")
        dest = os.path.join(self.upload_dir, os.path.basename(filename))
        if os.path.abspath(src_path) != os.path.abspath(dest):
            shutil.copyfile(src_path, dest)
        logger.info("File uploaded: %s", dest)
        df = dfio.read_csv(self.spark, dest)
        info = sanitize_for_json(dataset_info(df))
        return {
            "status": "success",
            "message": "File uploaded successfully",
            "filename": os.path.basename(filename),
            "file_path": dest,
            "dataset_info": info,
            "error": None,
        }

    # -- POST /clean-data ----------------------------------------------------
    def clean_data(self, file_path: str, operations: str | dict) -> dict[str, Any]:
        if isinstance(operations, str):
            try:
                operations = json.loads(operations)
            except json.JSONDecodeError as e:
                raise ServiceError(400, f"Invalid JSON in operations parameter: {e}")
        problems = validate_operations(operations)
        if problems:
            raise ServiceError(400, f"Invalid operations: {problems}")
        if not os.path.exists(file_path):
            raise ServiceError(404, f"File not found: {file_path}")

        base = os.path.splitext(os.path.basename(file_path))[0]
        output_path = os.path.join(self.upload_dir, f"{base}_cleaned.csv")
        logger.info("Starting pipeline for file: %s", file_path)
        df = dfio.read_csv(self.spark, file_path)
        pipe = CleaningPipeline(collect_metrics=True)
        try:
            out, report = pipe.run(df, operations)
            dfio.write_csv(out, output_path, single_file=True)
        finally:
            pipe.release()
        logger.info("Final data saved to: %s", output_path)
        return {
            "status": "success",
            "message": "Data cleaning completed successfully",
            "result": report,
            "output_file": output_path,
            "download_url": f"/download/{os.path.basename(output_path)}",
        }

    # -- GET /download/{filename} -------------------------------------------
    def download_path(self, filename: str) -> str:
        path = os.path.join(self.upload_dir, os.path.basename(filename))
        if not os.path.exists(path):
            raise ServiceError(404, "File not found")
        if os.path.isdir(path):
            # Spark writes a directory; surface the single part file the
            # coalesce(1) sink produced (download contract, main.py:190-202).
            parts = [f for f in os.listdir(path) if f.startswith("part-")]
            if not parts:
                raise ServiceError(404, "File not found")
            return os.path.join(path, parts[0])
        return path

    # -- GET /files ----------------------------------------------------------
    def list_files(self) -> dict[str, Any]:
        files = []
        for filename in sorted(os.listdir(self.upload_dir)):
            path = os.path.join(self.upload_dir, filename)
            size = (
                os.path.getsize(path)
                if os.path.isfile(path)
                else sum(
                    os.path.getsize(os.path.join(path, f))
                    for f in os.listdir(path)
                    if os.path.isfile(os.path.join(path, f))
                )
            )
            files.append(
                {
                    "filename": filename,
                    "size_bytes": size,
                    "size_mb": round(size / (1024 * 1024), 2),
                    "is_cleaned": "_cleaned" in filename,
                }
            )
        return {"status": "success", "files": files}

    # -- DELETE /files/{filename} -------------------------------------------
    def delete_file(self, filename: str) -> dict[str, Any]:
        path = os.path.join(self.upload_dir, os.path.basename(filename))
        if not os.path.exists(path):
            raise ServiceError(404, "File not found")
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
        return {"status": "success", "message": f"File {filename} deleted successfully"}

    # -- GET /pipeline-info --------------------------------------------------
    def pipeline_info(self) -> dict[str, Any]:
        return pipeline_info()


def create_app(spark: SparkSession, upload_dir: str = "uploads"):
    """FastAPI wiring (optional — fastapi is not in this container)."""
    try:
        from fastapi import FastAPI, File, Form, HTTPException, UploadFile
        from fastapi.responses import FileResponse
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "fastapi is not installed; use DataForgeService directly or "
            "install fastapi to serve HTTP"
        ) from e

    svc = DataForgeService(spark, upload_dir)
    app = FastAPI(title="DataForge-Spark")

    def guard(fn, *a, **kw):
        try:
            return fn(*a, **kw)
        except ServiceError as e:
            raise HTTPException(status_code=e.status_code, detail=e.detail)

    @app.get("/")
    async def root():
        return svc.root()

    @app.get("/health")
    async def health():
        return svc.health()

    @app.post("/upload")
    async def upload(file: UploadFile = File(...)):
        tmp = os.path.join(upload_dir, f".tmp_{file.filename}")
        with open(tmp, "wb") as buf:
            shutil.copyfileobj(file.file, buf)
        try:
            return guard(svc.upload, file.filename, tmp)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    @app.post("/clean-data")
    async def clean_data(file_path: str = Form(...), operations: str = Form(...)):
        return guard(svc.clean_data, file_path, operations)

    @app.get("/download/{filename}")
    async def download(filename: str):
        path = guard(svc.download_path, filename)
        return FileResponse(path=path, filename=filename, media_type="text/csv")

    @app.get("/files")
    async def files():
        return guard(svc.list_files)

    @app.delete("/files/{filename}")
    async def delete(filename: str):
        return guard(svc.delete_file, filename)

    @app.get("/pipeline-info")
    async def info():
        return svc.pipeline_info()

    return app
