from .extract import run_kernel, extract_corpus  # noqa: F401
