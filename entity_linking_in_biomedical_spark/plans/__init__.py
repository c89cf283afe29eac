from .pipeline import run_pipeline
from .resume import StageStore

__all__ = ["run_pipeline", "StageStore"]
