SELECT doc_id, text, lang, source, n_chars
FROM parquet.`$sf_dir/documents.parquet`;
