package graft.model

/** Request to index one document (reference
  * `node/elasticsearch/elasticsearch.go:14-19`).
  */
final case class IndexRequest(
    index: String,
    mappingType: String,
    docId: String,
    doc: String)
