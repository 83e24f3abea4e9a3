from .pipeline import run_pipeline  # noqa: F401
from .checkpoint import CheckpointManifest  # noqa: F401
