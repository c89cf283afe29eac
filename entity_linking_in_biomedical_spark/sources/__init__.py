from .synthetic import synth_corpus
from .loaders import wrap_flat_documents

__all__ = ["synth_corpus", "wrap_flat_documents"]
