"""Archive-lifecycle benchmark for razulibs_spark; entry point run.py."""
