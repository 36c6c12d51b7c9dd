"""Benchmark for the extraction job, RAG ingest and RAG query; see run.py."""
